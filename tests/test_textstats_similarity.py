"""Text analysis + similarity search operators."""

from __future__ import annotations

import numpy as np

from biomedical_knowledge_graph_spark.operators import multimodal, similarity, textstats
from pyspark.sql import functions as F


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "a bb ccc dddd eeeee"), (2, ""), (3, "  double  spaces ")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n, r.bpe)
        for r in df.select(
            "doc_id",
            textstats.token_count("text").alias("n"),
            textstats.bpe_ish_token_count("text").alias("bpe"),
        ).collect()
    }
    assert rows[1] == (5, 1 + 1 + 1 + 1 + 2)
    assert rows[2] == (0, 0)
    assert rows[3] == (2, 2 + 2)


def test_lang_id_and_tiebreak(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on a mat"),        # en
            (2, "der hund und die katze"),     # de
            (3, "xyz qqq www"),                # no markers → und
            (4, "the der"),                    # tie en/de → de (sorted first)
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.pred
        for r in df.select(
            "doc_id", textstats.predict_lang("text").alias("pred")
        ).collect()
    }
    assert got == {1: "en", 2: "de", 3: "und", 4: "de"}


def test_quality_features(spark):
    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textstats.quality_features(df).collect()}
    assert rows[1].n_tokens == 4 and rows[1].distinct_ratio == 0.25
    assert rows[2].distinct_ratio == 1.0 and rows[2].stop_ratio == 0.0
    assert rows[1].stop_ratio == 1.0
    assert 0.0 <= rows[1].quality_score <= 1.0


def test_fingerprint_deterministic_and_discriminative(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghijklmnop"), (2, "abcdefghijklmnop"), (3, "ponmlkjihgfedcba")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: tuple(r.fingerprint) for r in textstats.fingerprint(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]
    assert len(fp[1]) == 4


def _np_cosine(a, b):
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(0)
    vecs = [(i, rng.randn(16).astype(float).tolist()) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in similarity.cosine_topk(
            df, df.filter(F.col("vec_id") < 3), k=4
        ).collect()
    }
    for qid in range(3):
        scores = sorted(
            (
                (round(_np_cosine(vecs[qid][1], v), 6), -i)
                for i, v in vecs
                if i != qid
            ),
            reverse=True,
        )
        for rank in range(1, 5):
            s, neg_i = scores[rank - 1]
            assert got[(qid, rank)] == (-neg_i, s)


def test_lsh_topk_recall(spark):
    rng = np.random.RandomState(1)
    base = rng.randn(8)
    vecs = []
    for i in range(40):
        v = base + rng.randn(8) * 0.3  # one tight cluster → same bucket
        vecs.append((i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    exact = {
        r.neighbor_id
        for r in similarity.cosine_topk(df, q, k=5).collect()
    }
    approx = {
        r.neighbor_id
        for r in similarity.lsh_topk(df, q, dim=8, k=5, n_planes=4).collect()
    }
    # tight cluster: the LSH bucket must recover most of the true top-5
    assert len(exact & approx) >= 3


def test_binary_metadata_plumbing(spark):
    payloads = [
        (1, b"\x89PNG\r\n123"),
        (2, b"\xff\xd8\xffrest"),
        (3, b"<html></html>"),
        (4, None),
        (5, b"plain bytes"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    rows = {r.doc_id: r for r in multimodal.binary_metadata(df).collect()}
    assert rows[1].format == "png" and rows[1].n_bytes == 9
    assert rows[2].format == "jpeg"
    assert rows[3].format == "markup"
    assert rows[4].format == "empty" and rows[4].n_bytes == 0
    assert rows[5].format == "unknown"
    import hashlib

    assert rows[5].content_hash == hashlib.md5(b"plain bytes").hexdigest()


def test_decode_image_is_stubbed():
    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def _png_bytes(w: int, h: int) -> bytes:
    import struct as _s

    return (
        b"\x89PNG\r\n\x1a\n"
        + _s.pack(">I", 13)
        + b"IHDR"
        + _s.pack(">II", w, h)
        + b"\x08\x06\x00\x00\x00"
    )


def _jpeg_bytes(w: int, h: int) -> bytes:
    import struct as _s

    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0\x00\x11\x08" + _s.pack(">HH", h, w) \
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    return b"\xff\xd8" + app0 + sof0


def test_image_dimensions_header_parse():
    """VERDICT r5 item 4: PNG IHDR / JPEG SOFn / GIF headers decode to
    real (width, height) in pure Python — no codec library."""
    import struct as _s

    assert multimodal.image_dimensions(_png_bytes(800, 600)) == (800, 600)
    assert multimodal.image_dimensions(_png_bytes(1, 1)) == (1, 1)
    # JPEG: SOF0 after an APP0 segment (the normal JFIF layout)
    assert multimodal.image_dimensions(_jpeg_bytes(640, 480)) == (640, 480)
    # JPEG with a COM segment and a progressive SOF2 instead of SOF0
    com = b"\xff\xfe\x00\x07hello"
    sof2 = b"\xff\xc2\x00\x11\x08" + _s.pack(">HH", 33, 44) \
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    assert multimodal.image_dimensions(b"\xff\xd8" + com + sof2) == (44, 33)
    # DHT (C4) is NOT a SOF marker and must be walked over
    dht = b"\xff\xc4\x00\x05\x00\x01\x02"
    assert multimodal.image_dimensions(
        b"\xff\xd8" + dht + _jpeg_bytes(7, 9)[2:]
    ) == (7, 9)
    # GIF logical screen descriptor is little-endian
    assert multimodal.image_dimensions(
        b"GIF89a" + _s.pack("<HH", 320, 200) + b"\x00\x00\x00"
    ) == (320, 200)
    # non-images and degenerate inputs → None, never a raise
    for bad in (
        None,
        b"",
        b"<html>",
        b"plain",
        b"\x89PNG\r\n\x1a\n",          # truncated PNG
        _png_bytes(5, 5)[:20],          # truncated IHDR
        b"\xff\xd8\xff",                # bare JPEG SOI
        b"\xff\xd8\x00\x11garbage",     # desynchronized marker chain
        b"\xff\xd8\xff\xc0\x00\x01",    # SOF with impossible length
        b"GIF89a\x01",                  # truncated GIF
    ):
        assert multimodal.image_dimensions(bad) is None, bad


def test_image_dimensions_never_raises_on_hostile_bytes():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=64))
    def check(blob):
        # web-crawl payloads are hostile: the parser must return a tuple
        # or None, never raise, even when the blob starts like an image
        for prefix in (b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"GIF8"):
            out = multimodal.image_dimensions(prefix + blob)
            assert out is None or (
                isinstance(out, tuple) and len(out) == 2
            )

    check()


def test_binary_metadata_emits_decoded_dimensions(spark):
    df = spark.createDataFrame(
        [
            (1, _png_bytes(12, 34)),
            (2, _jpeg_bytes(56, 78)),
            (3, b"<html>not an image</html>"),
        ],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.binary_metadata(df).collect()}
    assert (rows[1].width, rows[1].height) == (12, 34)
    assert (rows[2].width, rows[2].height) == (56, 78)
    assert rows[3].width is None and rows[3].height is None


def test_lsh_bucket_deterministic(spark):
    rng = np.random.RandomState(2)
    df = spark.createDataFrame(
        [(i, rng.randn(8).tolist()) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    a = {r.vec_id: r.lsh_bucket for r in similarity.lsh_bucket(df, 8).collect()}
    b = {r.vec_id: r.lsh_bucket for r in similarity.lsh_bucket(df, 8).collect()}
    assert a == b


def test_bm25_topk_semantics_and_determinism(spark):
    from biomedical_knowledge_graph_spark.operators.retrieval import (
        SCALE,
        bm25_topk,
    )

    # 6 docs: "rare" appears once; "common" in five; doc 5 matches nothing
    rows = [
        (1, "rare common alpha beta"),
        (2, "common alpha beta gamma"),
        (3, "common common alpha beta gamma delta"),
        (4, "common alpha"),
        (5, "alpha beta gamma delta"),
        (6, "common alpha beta gamma delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(docs, ["rare", "common"], k=10).collect()
    got = {r.doc_id: r for r in out}
    # only matching docs are returned, already ordered
    assert set(got) == {1, 2, 3, 4, 6}
    # the sole "rare" doc outranks every common-only doc (idf dominance)
    assert out[0].doc_id == 1 and got[1].matched_terms == 2
    # higher tf at comparable length ranks above (doc 3 vs doc 2)
    assert got[3].score_scaled > got[2].score_scaled
    # longer doc is length-penalized below a shorter same-tf doc (6 vs 2)
    assert got[2].score_scaled > got[6].score_scaled
    # score is the exact scaled integer divided out
    for r in out:
        assert r.score == r.score_scaled / SCALE
    # k truncates after ordering
    top2 = bm25_topk(docs, ["rare", "common"], k=2).collect()
    assert [r.doc_id for r in top2] == [r.doc_id for r in out[:2]]
    # bit-identical across partitionings (integer fixed-point)
    repartitioned = bm25_topk(
        docs.repartition(7, "doc_id"), ["rare", "common"], k=10
    ).collect()
    assert [tuple(r) for r in repartitioned] == [tuple(r) for r in out]
    # an empty corpus trips the n_docs <= 0 guard
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty/untokenizable"):
        bm25_topk(docs.limit(0), ["rare"])


def test_pii_scrub_hand_checked(spark):
    from biomedical_knowledge_graph_spark.operators.textstats import (
        pii_scrub,
    )

    rows = [
        (1, "mail bob.smith+x@sub.example.co or call 555-123-4567 now"),
        (2, "server at 10.0.255.1 and 192.168.1.2, no mail"),
        # an @host that is a bare IP is NOT an email (no alpha TLD) but
        # IS an ipv4 hit; masking order is email -> phone -> ip
        (3, "ping x@1.2.3.4 ok"),
        (4, "clean text with digits 12345 and a-b dashes"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_phone"], r1["n_ipv4"]) == (1, 1, 0)
    assert r1["scrubbed_text"] == "mail <EMAIL> or call <PHONE> now"
    assert r1["has_pii"] is True
    r2 = out[2]
    assert (r2["n_email"], r2["n_phone"], r2["n_ipv4"]) == (0, 0, 2)
    assert r2["scrubbed_text"] == "server at <IP> and <IP>, no mail"
    r3 = out[3]
    assert (r3["n_email"], r3["n_phone"], r3["n_ipv4"]) == (0, 0, 1)
    assert r3["scrubbed_text"] == "ping x@<IP> ok"
    r4 = out[4]
    assert r4["has_pii"] is False
    assert r4["scrubbed_text"] == rows[3][1]
    assert out[5]["scrubbed_text"] == "" and out[5]["has_pii"] is False


def test_pii_scrub_counts_equal_masked_occurrences(spark):
    """ADVICE r5: counts are computed on the PROGRESSIVELY scrubbed
    string, so a phone-shaped substring consumed by the earlier email
    mask is NOT counted — n_<class> always equals the number of <CLASS>
    tokens present in scrubbed_text."""
    from biomedical_knowledge_graph_spark.operators.textstats import (
        pii_scrub,
    )

    rows = [
        # the phone-shaped 555-123-4567 sits INSIDE the email local part
        # (hyphen is a legal local-part char), so the email mask consumes
        # it and n_phone must be 0
        (1, "reach x555-123-4567y@example.com today"),
        # a real phone AND an email-consumed one: only the free-standing
        # phone counts
        (2, "a555-123-4567@b.co or 555-999-0000"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    for r in out.values():
        for cls, token in (("email", "<EMAIL>"), ("phone", "<PHONE>"),
                           ("ipv4", "<IP>")):
            assert r[f"n_{cls}"] == r["scrubbed_text"].count(token), r
    assert (out[1]["n_email"], out[1]["n_phone"]) == (1, 0)
    assert out[1]["scrubbed_text"] == "reach <EMAIL> today"
    assert (out[2]["n_email"], out[2]["n_phone"]) == (1, 1)


def _py_qc_weight(token: str) -> int:
    """Independent Python reimplementation of the classifier weight."""
    import hashlib

    from biomedical_knowledge_graph_spark.operators.textstats import (
        _QC_MULT,
        QC_HEX_CHARS,
        QC_SALT,
        QC_WEIGHT_SPAN,
    )

    hx = hashlib.md5(f"{QC_SALT}:{token}".encode()).hexdigest()[:QC_HEX_CHARS]
    feat = int(hx, 16)
    return (feat * _QC_MULT) % (2 * QC_WEIGHT_SPAN) - QC_WEIGHT_SPAN


def test_hashed_linear_score(spark):
    from biomedical_knowledge_graph_spark.operators.textstats import (
        QC_WEIGHT_SPAN,
        hashed_linear_score,
    )

    df = spark.createDataFrame(
        [
            (1, "The quick Brown fox"),
            (2, ""),
            (3, None),
            (4, "  spaced   out  "),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in hashed_linear_score(df).collect()}

    # doc 1: logit is the sum of the Python-recomputed per-token weights
    # (tokens lowercased), score the 6-dp normalized logit
    toks = ["the", "quick", "brown", "fox"]
    logit = sum(_py_qc_weight(t) for t in toks)
    assert rows[1].n_tokens == 4
    assert rows[1].logit_num == logit
    assert rows[1].score == round(logit / (4 * float(QC_WEIGHT_SPAN)), 6)
    assert rows[1].keep == (logit >= 0)
    assert -1.0 <= rows[1].score <= 1.0

    # empty / NULL / whitespace-only texts survive as zero-score rows
    for d in (2, 3):
        assert rows[d].n_tokens == 0
        assert rows[d].logit_num == 0
        assert rows[d].score == 0.0
        assert rows[d].keep is True
    assert rows[4].n_tokens == 2


def test_corpus_report(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is big"),  # en
            (2, "the cat and the dog of the house is big"),  # exact dup
            (3, "der hund und die katze ist das haus"),  # de
            (4, "contact me at bob@example.com for the offer and the rest"),
            (5, "zzz qqq"),  # no markers -> und
            (6, None),  # NULL text: first of the NULL/empty group, NOT a dup
            (7, None),  # second NULL IS a dup of 6 (ADVICE r6 item 5)
        ],
        "doc_id long, text string",
    )
    rows = {r.lang: r for r in textstats.corpus_report(df).collect()}
    assert set(rows) == {"en", "de", "und"}
    # NULL texts predict "und"; they form ONE group with one free doc
    und_docs_with_text = 1  # doc 5
    assert rows["und"].n_docs == und_docs_with_text + 2
    assert rows["und"].n_dup_docs == 1  # doc 7 only, never doc 6
    en = rows["en"]
    assert en.n_docs == 3 and en.n_dup_docs == 1
    assert en.n_pii_docs == 1  # the email doc
    assert rows["de"].n_docs == 1 and rows["de"].n_pii_docs == 0
    assert rows["und"].total_tokens == 2  # NULL texts contribute 0
    # totals are token sums, quality averaged within the language
    assert en.total_tokens == 10 + 10 + 10
    assert 0.0 <= en.avg_quality <= 1.0


def test_decode_image_uncompressed():
    import struct as _struct

    d = multimodal.decode_image_uncompressed
    # P6 with comment + CRLF whitespace
    ppm = b"P6 # cmt\n2 1\n255\n" + bytes([1, 2, 3, 4, 5, 6])
    assert d(ppm) == ("ppm", 2, 1, 3, bytes([1, 2, 3, 4, 5, 6]))
    # P5 grayscale
    assert d(b"P5\n3 1\n255\n" + bytes([9, 8, 7])) == (
        "pgm", 3, 1, 1, bytes([9, 8, 7])
    )
    # truncated payloads and malformed headers return None, never raise
    assert d(b"P6\n2 1\n255\n" + bytes([1, 2])) is None
    assert d(b"P6\n0 1\n255\nxxx") is None
    assert d(b"P6\n2 1\n70000\n" + bytes(6)) is None
    assert d(b"") is None and d(None) is None
    assert d(b"\x89PNG\r\n\x1a\n" + bytes(40)) is None  # compressed: stub
    # 24-bit bottom-up BMP with row padding: decoder returns top-down rows
    row0, row1 = bytes([1, 2, 3, 4, 5, 6]), bytes([7, 8, 9, 10, 11, 12])
    data = row1 + b"\x00\x00" + row0 + b"\x00\x00"
    hdr = (
        b"BM"
        + _struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + _struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(data),
                       0, 0, 0, 0)
    )
    fmt, w, h, ch, px = d(hdr + data)
    assert (fmt, w, h, ch) == ("bmp", 2, 2, 3)
    assert px == row0 + row1
    # compressed BMP (BI_RLE8) rejected
    bad = bytearray(hdr + data)
    bad[30] = 1
    assert d(bytes(bad)) is None


def test_image_pixel_stats(spark):
    ppm = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(b"junk")), (3, None)],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.image_pixel_stats(df).collect()}
    assert rows[1].format == "ppm" and rows[1].width == 2
    assert rows[1].sum_pixels == 210
    assert rows[1].mean_pixel == 35.0
    assert rows[2].format == "unknown" and rows[2].sum_pixels is None
    assert rows[3].format == "empty" and rows[3].width is None


def test_decode_audio_wav():
    import struct as _s

    d = multimodal.decode_audio_wav
    fmt16 = _s.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    pcm = _s.pack("<hhh", -5, 0, 7)
    wav = (
        b"RIFF" + _s.pack("<I", 4 + 8 + 16 + 8 + len(pcm)) + b"WAVE"
        + b"fmt " + _s.pack("<I", 16) + fmt16
        + b"data" + _s.pack("<I", len(pcm)) + pcm
    )
    assert d(wav) == (44100, 2, 16, pcm)
    # an extra chunk before data (e.g. LIST) is walked over, odd sizes pad
    listc = b"LIST" + _s.pack("<I", 3) + b"abc" + b"\x00"
    wav2 = wav[:20 + 16] + listc + wav[20 + 16:]
    assert d(wav2) == (44100, 2, 16, pcm)
    # rejects: non-PCM format tag, truncated chunks, non-RIFF
    badfmt = _s.pack("<HHIIHH", 85, 2, 44100, 0, 4, 16)  # MP3-in-WAV
    bad = wav.replace(fmt16, badfmt)
    assert d(bad) is None
    assert d(b"RIFF\x10\x00\x00\x00WAVEfmt ") is None
    assert d(b"OggS") is None and d(None) is None


def test_audio_stats(spark):
    import struct as _s

    data = bytes([100, 110, 120])
    fmt = _s.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav = (
        b"RIFF" + _s.pack("<I", 4 + 8 + 16 + 8 + len(data)) + b"WAVE"
        + b"fmt " + _s.pack("<I", 16) + fmt
        + b"data" + _s.pack("<I", len(data)) + data
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"RIFFjunk"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.audio_stats(df).collect()}
    assert rows[1].format == "wav" and rows[1].sample_rate == 8000
    assert rows[1].n_samples == 3 and rows[1].sum_samples == 330
    assert rows[1].mean_sample == 110.0
    assert rows[2].format == "riff" and rows[2].n_samples is None


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [
            (1, "café and  double   spaces"),
            (2, "bell\x07strip\ttab kept\nline kept"),
            (3, "é already composed"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textstats.normalize_text(df).collect()}
    assert rows[1].text_norm == "café and double spaces"
    assert rows[1].changed is True
    assert rows[2].text_norm == "bellstrip\ttab kept\nline kept"
    assert rows[3].text_norm == "é already composed"
    assert rows[3].changed is False
    assert rows[4].text_norm == "" and rows[4].n_chars_before == 0
    # char counts reflect the composition: NFC shrinks e+combining to é
    assert rows[1].n_chars_before - rows[1].n_chars_after == 1 + 3


def test_video_metadata_headers():
    import struct as _s

    v = multimodal.video_metadata_headers
    avih = _s.pack("<10I", 33333, 0, 0, 0, 240, 0, 1, 0, 320, 180) + bytes(16)
    hdrl = b"hdrl" + b"avih" + _s.pack("<I", len(avih)) + avih
    avi = (
        b"RIFF" + _s.pack("<I", 4 + 8 + len(hdrl)) + b"AVI "
        + b"LIST" + _s.pack("<I", len(hdrl)) + hdrl
    )
    assert v(avi) == ("avi", 320, 180, 240)
    # MP4 v0 tkhd inside moov/trak, after an ftyp box
    tkhd_body = bytes(4) + bytes(20) + bytes(16) + bytes(36) \
        + _s.pack(">II", 640 << 16, 360 << 16)
    tkhd = _s.pack(">I", 8 + len(tkhd_body)) + b"tkhd" + tkhd_body
    trak = _s.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    moov = _s.pack(">I", 8 + len(trak)) + b"moov" + trak
    ftyp = _s.pack(">I", 16) + b"ftyp" + b"isom" + bytes(4)
    assert v(ftyp + moov) == ("mp4", 640, 360, None)
    # ADVICE r6 item 4: a leading audio trak (0x0 tkhd) or a truncated
    # tkhd must not abort the walk — the later video trak still wins
    audio_body = bytes(4) + bytes(20) + bytes(16) + bytes(36) \
        + _s.pack(">II", 0, 0)
    audio_tkhd = _s.pack(">I", 8 + len(audio_body)) + b"tkhd" + audio_body
    audio_trak = _s.pack(">I", 8 + len(audio_tkhd)) + b"trak" + audio_tkhd
    moov2 = _s.pack(">I", 8 + len(audio_trak) + len(trak)) + b"moov" \
        + audio_trak + trak
    assert v(ftyp + moov2) == ("mp4", 640, 360, None)
    # truncated version-1 tkhd (size >= 92 but shorter than the v1
    # layout) followed by a good v0 trak
    bad_body = bytes([1]) + bytes(91)  # version=1, box too short for v1
    bad_tkhd = _s.pack(">I", 8 + len(bad_body)) + b"tkhd" + bad_body
    bad_trak = _s.pack(">I", 8 + len(bad_tkhd)) + b"trak" + bad_tkhd
    moov3 = _s.pack(">I", 8 + len(bad_trak) + len(trak)) + b"moov" \
        + bad_trak + trak
    assert v(ftyp + moov3) == ("mp4", 640, 360, None)
    # all-audio container: no video trak → None, not a 0x0 result
    moov4 = _s.pack(">I", 8 + len(audio_trak)) + b"moov" + audio_trak
    assert v(ftyp + moov4) is None
    # rejects: WAV RIFF, truncated avih, zero-size box loops, junk
    assert v(b"RIFFxxxxWAVE") is None
    assert v(avi[:30]) is None
    assert v(_s.pack(">I", 0) + b"ftyp" + bytes(8)) is None
    assert v(b"junkjunkjunk") is None and v(None) is None


def test_video_metadata_frame(spark):
    import struct as _s

    avih = _s.pack("<10I", 33333, 0, 0, 0, 5, 0, 1, 0, 64, 36) + bytes(16)
    hdrl = b"hdrl" + b"avih" + _s.pack("<I", len(avih)) + avih
    avi = (
        b"RIFF" + _s.pack("<I", 4 + 8 + len(hdrl)) + b"AVI "
        + b"LIST" + _s.pack("<I", len(hdrl)) + hdrl
    )
    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(b"nope"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.video_metadata(df).collect()}
    assert rows[1].container == "avi" and rows[1].n_frames == 5
    assert rows[2].container == "unknown" and rows[2].width is None


def test_bm25_stats_pass_token_count_identity(spark):
    # round-8 optimization: the stats pass counts tokens as
    # length - length(translate(s, ' ', '')) + 1 instead of
    # size(split(s, ' ')) — identical by construction (split keeps empty
    # tokens incl. trailing, so the count is always spaces + 1; NULL
    # propagates to NULL on both sides under Spark 4). Pin the identity
    # on adversarial strings.
    rows = [
        (1, "plain tokens here"),
        (2, "  leading and   multiple  "),
        (3, ""),
        (4, " "),
        (5, "single"),
        (6, None),
        (7, "trailing space "),
        (8, "customer dup query scan customer"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = docs.select(
        F.size(F.split(F.col("text"), " ")).alias("a"),
        (
            F.length("text")
            - F.length(F.translate(F.col("text"), " ", ""))
            + 1
        ).alias("b"),
    ).collect()
    for r in got:
        assert r.a == r.b, (r.a, r.b)


def test_ivf_assign_argmax_matches_window_with_ties(spark):
    # round-8 optimization: n_best=1 + numeric cent ids use a map-side
    # argmax (max_by over (score, -cent_id)) instead of the window; the
    # tie-break must match the window's (score desc, cent_id asc)
    # exactly. Duplicate centroids force rounded-score ties.
    from biomedical_knowledge_graph_spark.operators.similarity import (
        ivf_assign,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3 + 1), float((i * 7) % 5)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    # centroids 10 and 11 are identical -> every vector ties on them
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 0.0]), (12, [0.0, 1.0])],
        "cent_id long, cvec array<float>",
    )
    fast = {
        (r.vec_id, r.cell) for r in ivf_assign(vecs, cents).collect()
    }
    # string ids route through the window path — same data, same picks
    cents_s = cents.selectExpr(
        "cast(cent_id as string) AS cent_id", "cvec"
    )
    slow = {
        (r.vec_id, int(r.cell))
        for r in ivf_assign(vecs, cents_s).collect()
    }
    assert fast == slow
    # ties resolve to the LOWER cent_id
    assert all(c != 11 for _, c in fast)


def test_ivf_assign_argmax_carries_columns_like_window(spark):
    # the argmax path carries the non-id columns through max_by's struct;
    # every output row must equal the window path's, column for column
    from biomedical_knowledge_graph_spark.operators.similarity import (
        ivf_assign,
    )

    vecs = spark.createDataFrame(
        [
            (
                i,
                f"t{i % 4}",
                None if i % 5 == 0 else i / 3,
                [float(i % 3 + 1), float((i * 7) % 5)],
            )
            for i in range(40)
        ],
        "vec_id long, tag string, w double, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 0.0]), (12, [0.0, 1.0])],
        "cent_id long, cvec array<float>",
    )
    fast = ivf_assign(vecs, cents)
    slow = ivf_assign(
        vecs, cents.selectExpr("cast(cent_id as string) AS cent_id", "cvec")
    ).withColumn("cell", F.col("cell").cast("long"))
    assert fast.columns == slow.columns == vecs.columns + ["cell"]
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
