"""Behavioral tests for the RAG plumbing, plugins, and multimodal stages —
the parts whose value is in shapes/semantics rather than SQL equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_project_spark import io, plugins
from big_data_project_spark.operators import multimodal, rag, vector


def test_prompt_contains_topk_snippets_in_rank_order(spark, sf_dir):
    emb = io.load_table(spark, sf_dir, "embeddings")
    docs = io.load_table(spark, sf_dir, "documents")
    q = vector.query_vector_of(emb, 0)
    hits = vector.knn_topk(emb, q, k=3, metric="ip")
    joined = vector.knn_join_documents(hits, docs, truncate=50)
    row = rag.assemble_prompt(joined, "what is spark").collect()[0]
    snippets = [r.snippet for r in joined.orderBy(F.col("score").desc()).collect()]
    assert row.context == "\n\n".join(snippets)
    assert row.prompt.startswith("Use the following context")
    assert row.prompt.endswith("Answer:")
    assert "what is spark" in row.prompt


def test_question_text_survives_sql_quoting(spark, sf_dir):
    """The question is interpolated into SQL text (text.sql_str): an
    apostrophe, a backslash and backslash-escape look-alikes must come back
    exactly, in the question column and inside the prompt."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    docs = io.load_table(spark, sf_dir, "documents")
    q = vector.query_vector_of(emb, 0)
    question = "Is Amazon's $15B bet a \\ risk? C:\\new\\table 100\\% \\u0041 'x'"
    hits = vector.knn_join_documents(vector.knn_topk(emb, q, k=3), docs, truncate=50)
    row = rag.assemble_prompt(hits, question).collect()[0]
    assert row.question == question
    assert f"Question: {question}\n" in row.prompt
    assert rag.run_rag(emb, docs, q, question, k=3).collect()[0].question == question


def test_evaluate_response_scores(spark):
    df = spark.createDataFrame(
        [
            ("the cat", "the cat sat", "the cat sat on a mat today ok fine sure yes"),
            ("dog bird", "unrelated words here", "the cat sat on a mat"),
        ],
        "question string, answer string, context string",
    )
    rows = {r.question: r for r in rag.evaluate_response(df).collect()}
    assert rows["the cat"].accuracy == 1.0
    assert rows["the cat"].accuracy_label == "High"
    assert rows["dog bird"].accuracy == 0.0
    assert rows["dog bird"].accuracy_label == "Low"
    assert rows["dog bird"].grounding == 0.0


def test_generator_fallback_is_deterministic_and_cached_interface():
    gen = plugins.Generator()
    prompt = "Use the following context to answer the question.\n\nContext:\nalpha beta gamma\n\nQuestion: q\n\nAnswer:"
    a1, a2 = gen.generate(prompt), gen.generate(prompt)
    assert a1 == a2 == "alpha beta gamma"


def test_hash_embedder_mapinpandas(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "world"), (3, "hello")],
                               "doc_id long, text string")
    out = plugins.Embedder(dim=16).transform(df).collect()
    vecs = {r.doc_id: r.embedding for r in out}
    assert len(vecs[1]) == 16
    assert vecs[1] == vecs[3] != vecs[2]
    norm = sum(x * x for x in vecs[1]) ** 0.5
    assert abs(norm - 1.0) < 1e-5


def test_catalyst_hash_embed_bit_identical_to_python(spark):
    """r11 optimization pin: the Embedder's deterministic branch moved from
    a mapInPandas Python closure to Catalyst expressions (hash_embed_cols).
    The swap is only legal because every float32 is BIT-identical to the
    Python hash_embed chain — compare bit patterns, not approximate values,
    across ASCII / empty / NULL / multibyte UTF-8 / quote-and-backslash
    inputs (the SQL-literal escaping edge cases)."""
    import struct as _struct

    texts = [
        "hello",
        "",
        None,  # old path: `t or ""`; new path: coalesce(.., '')
        "héllo wörld",
        "naïve — テスト ✓",
        "it's a 'quoted' \\ backslash\ttab\nnewline",
        "x" * 997,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.embedding
        for r in plugins.Embedder(dim=16).transform(df).collect()
    }
    for i, t in enumerate(texts):
        expect = plugins.hash_embed(t if t is not None else "", 16)
        assert len(got[i]) == 16
        for a, b in zip(got[i], expect):
            # float32 round of the double is the comparison unit: collect
            # widens float32 back to double, so re-pack both sides
            assert _struct.pack("<f", a) == _struct.pack("<f", b), (i, t, a, b)


def test_decode_features_fake_and_strict(spark):
    df = spark.createDataFrame([(1, "some bytes"), (2, "other")],
                               "doc_id long, text string")
    d = multimodal.attach_binary(df)
    feats = multimodal.decode_features(d).collect()
    assert {r.doc_id for r in feats} == {1, 2}
    assert all(len(r.features) == 8 for r in feats)
    # determinism
    again = multimodal.decode_features(d).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))
    # strict mode surfaces the stub boundary
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        multimodal.decode_features(d, decode="strict").collect()


def test_frame_sample_slices(spark):
    text = "x" * 200  # 200 bytes → frames at 0,64,128,192 (4 frames)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    frames = multimodal.frame_sample(multimodal.attach_binary(df)).collect()
    assert [r.frame_no for r in sorted(frames, key=lambda r: r.frame_no)] == [0, 1, 2, 3]
    total = b"".join(
        bytes(r.frame_bytes) for r in sorted(frames, key=lambda r: r.frame_no)
    )
    assert total == text.encode()


def test_sniff_media_type(spark):
    df = spark.createDataFrame([(1,), (2,)], "doc_id long")
    png = df.withColumn(
        "payload", F.concat(F.unhex(F.lit("89504E47")), F.lit(b"data"))
    )
    rows = multimodal.binary_stats(png).collect()
    assert all(r.media_type == "image/png" for r in rows)


def test_rag_end_to_end_pipeline(spark, sf_dir):
    """Full R3 parity (ref py:455-484) on engine primitives: embed documents
    (hash embedder), broadcast an embedded query, retrieve top-k, join docs,
    assemble the prompt, generate (cached fallback), evaluate — no driver
    collect anywhere until the final one-row answer."""
    docs = io.load_table(spark, sf_dir, "documents")
    embedded = plugins.Embedder(dim=16).transform(docs).select(
        F.col("doc_id").alias("vec_id"), F.lit(0).alias("label"), "embedding"
    )
    embedded.cache()
    question = "the fast spark join"
    # embed the query with the same embedder (single-row DataFrame, E2 shape)
    qdf = spark.createDataFrame([(0, question)], "doc_id long, text string")
    qvec = F.broadcast(
        plugins.Embedder(dim=16).transform(qdf).select(F.col("embedding").alias("q"))
    )
    hits = vector.knn_topk(embedded, qvec, k=5, metric="cosine")
    joined = vector.knn_join_documents(hits, docs, truncate=200)
    prompt_row = rag.assemble_prompt(joined, question).collect()[0]
    assert prompt_row.context and prompt_row.prompt.endswith("Answer:")

    answer = plugins.Generator().generate(prompt_row.prompt)
    assert answer  # deterministic extractive fallback

    scored = rag.evaluate_response(
        spark.createDataFrame(
            [(question, answer, prompt_row.context)],
            "question string, answer string, context string",
        )
    ).collect()[0]
    # the fallback answer is extracted from the context → fully grounded
    assert scored.grounding == 1.0
    assert 0.0 <= scored.accuracy <= 1.0
    embedded.unpersist()


def test_clarity_sentence_rule_matches_reference(spark):
    """Reference py:588-590: clarity High iff word_count < 100 AND
    sentence_count (= count('.') + 1) > 1."""
    df = spark.createDataFrame(
        [
            ("q", "one sentence no period", "ctx"),
            ("q2", "two sentences. here it is.", "ctx"),
            ("q3", ". ".join(["word"] * 120), "ctx"),  # >100 words, many '.'
        ],
        "question string, answer string, context string",
    )
    rows = {r.question: r for r in rag.evaluate_response(df).collect()}
    assert rows["q"].answer_sentences == 1 and rows["q"].clarity_label == "Low"
    assert rows["q2"].answer_sentences == 3 and rows["q2"].clarity_label == "High"
    assert rows["q3"].clarity_label == "Low"


@pytest.mark.skipif(
    not plugins.Embedder().available(),
    reason="sentence-transformers not installed in this environment",
)
def test_real_embedder_smoke(spark):  # pragma: no cover - env-dependent
    """Executes the real-model branch of Embedder when the package exists
    (VERDICT r1 item 9: the model paths carry `pragma: no cover` otherwise)."""
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    out = plugins.Embedder().transform(df).collect()
    assert len(out) == 1 and len(out[0].embedding) == 384


@pytest.mark.skipif(
    not plugins.Generator().available(),
    reason="transformers not installed in this environment",
)
def test_real_generator_smoke():  # pragma: no cover - env-dependent
    gen = plugins.Generator()
    a = gen.generate("Answer yes or no: is water wet?")
    assert isinstance(a, str) and len(a) > 0


def test_average_hash_identical_payloads_collide(spark):
    docs = spark.createDataFrame(
        [(1, "same content"), (2, "same content"), (3, "different thing")],
        "doc_id long, text string",
    )
    feats = multimodal.decode_features(multimodal.attach_binary(docs), dim=8)
    h = {r.doc_id: r.ahash for r in multimodal.average_hash(feats).collect()}
    assert h[1] == h[2]
    assert 0 <= h[1] < 256
    # different payloads are overwhelmingly likely to differ somewhere in
    # 8 sha256-derived bits; pin it for this fixed corpus
    assert h[1] != h[3]


# ---------------------------------------------------------------------------
# STRICT codec (VERDICT r3 item 6): stdlib-only BMP/WAV decode. The
# registry's mm_strict_decode proves builder→decoder→oracle agreement; the
# tests below are INDEPENDENT of the builder — the BMP fixture is asserted
# byte-for-byte against a hand-assembled spec-correct literal, so a
# mirrored geometry bug in builder+decoder cannot hide.
# ---------------------------------------------------------------------------

def _hand_bmp() -> bytes:
    import struct

    # 3×2, 24bpp: image pixels (r,g,b) row-major top-down:
    # (10,20,30) (40,50,60) (70,80,90) / (100,110,120) (130,140,150) (160,170,180)
    pix = bytes(
        [120, 110, 100, 150, 140, 130, 180, 170, 160, 0, 0, 0,  # bottom row, BGR+pad
         30, 20, 10, 60, 50, 40, 90, 80, 70, 0, 0, 0]           # top row, BGR+pad
    )
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return hdr + dib + pix


def test_make_bmp_matches_hand_assembled_spec_bytes():
    pixels = [(10, 20, 30), (40, 50, 60), (70, 80, 90),
              (100, 110, 120), (130, 140, 150), (160, 170, 180)]
    assert multimodal.make_bmp_24(pixels, width=3, height=2) == _hand_bmp()


def test_strict_decode_bmp_pixel_stats(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_hand_bmp()))], "doc_id long, payload binary"
    )
    row = multimodal.decode_features(df, dim=6, decode="strict").collect()[0]
    assert (row.media_type, row.height, row.width) == ("image/bmp", 2, 3)
    want = [20 / 255, 50 / 255, 80 / 255, 110 / 255, 140 / 255, 170 / 255]
    assert row.features == pytest.approx(want, abs=1e-6)  # float32 storage


def test_strict_decode_wav_sample_stats(spark):
    import struct

    samples = [0, 16384, -32768, 32767]
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    assert wav == multimodal.make_wav_pcm16(samples)  # builder = spec bytes
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    row = multimodal.decode_features(df, dim=4, decode="strict").collect()[0]
    assert (row.media_type, row.height, row.width) == ("audio/wav", 1, 8000)
    want = [0.0, 0.5, -1.0, 32767 / 32768]
    assert row.features == pytest.approx(want, abs=1e-6)


def test_strict_decode_stereo_wav_averages_channels(spark):
    # frames: (L=1000, R=3000) → 2000; (L=-2000, R=0) → -1000
    wav = multimodal.make_wav_pcm16([1000, 3000, -2000, 0], n_channels=2)
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    row = multimodal.decode_features(df, dim=2, decode="strict").collect()[0]
    assert row.height == 2  # channels
    assert row.features == pytest.approx([2000 / 32768, -1000 / 32768], abs=1e-6)


def test_strict_decode_segment_means_downsample(spark):
    # 6 pixels → dim=3: means of pixel pairs
    df = spark.createDataFrame(
        [(1, bytearray(_hand_bmp()))], "doc_id long, payload binary"
    )
    row = multimodal.decode_features(df, dim=3, decode="strict").collect()[0]
    want = [(20 + 50) / 2 / 255, (80 + 110) / 2 / 255, (140 + 170) / 2 / 255]
    assert row.features == pytest.approx(want, abs=1e-6)


def test_strict_decode_raises_on_entropy_coded_formats(spark):
    import pytest as _pytest

    # MP3 (MPEG audio frame sync) stays the loud seam — baseline JPEG now
    # decodes for real (tests below)
    df = spark.createDataFrame(
        [(1, bytearray(b"\xff\xfbMP3FRAME...."))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="perceptual codec"):
        multimodal.decode_features(df, decode="strict").collect()
    # and unsupported BMP variants fail loudly, not silently wrong
    bad = bytearray(_hand_bmp())
    bad[28] = 8  # bpp=8
    df8 = spark.createDataFrame([(1, bad)], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="24-bpp"):
        multimodal.decode_features(df8, decode="strict").collect()


# ---------------------------------------------------------------------------
# STRICT PNG codec (VERDICT r4 item 3): stdlib zlib inflate + scanline
# defiltering. The fixture below is hand-assembled (filtered bytes written
# as literals, chunks packed inline) so a mirrored builder+decoder bug
# cannot hide — make_png_rgb8 is then pinned against the same bytes.
# ---------------------------------------------------------------------------

def _hand_png() -> bytes:
    import struct
    import zlib

    # 2×2 RGB, row-major top-down: (10,20,30) (40,50,60) / (70,80,90)
    # (100,110,120). Row 0 filter None (raw), row 1 filter Up — the
    # filtered bytes are cur - up = 60 for every sample, written literally.
    scan = bytes([0, 10, 20, 30, 40, 50, 60,
                  2, 60, 60, 60, 60, 60, 60])

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b""))


def test_make_png_matches_hand_assembled_spec_bytes():
    pixels = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120)]
    assert multimodal.make_png_rgb8(pixels, 2, 2, row_filters=[0, 2]) == _hand_png()


def test_strict_decode_png_pixel_stats(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_hand_png()))], "doc_id long, payload binary"
    )
    row = multimodal.decode_features(df, dim=4, decode="strict").collect()[0]
    assert (row.media_type, row.height, row.width) == ("image/png", 2, 2)
    want = [20 / 255, 50 / 255, 80 / 255, 110 / 255]
    assert row.features == pytest.approx(want, abs=1e-6)


def test_strict_decode_png_every_filter_type(spark):
    """5 rows, one per filter (None/Sub/Up/Average/Paeth): decode must
    recover the exact pixels through every defiltering branch."""
    import random

    rng = random.Random(7)
    width, height = 4, 5
    pixels = [
        (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for _ in range(width * height)
    ]
    png = multimodal.make_png_rgb8(
        pixels, width, height, row_filters=[0, 1, 2, 3, 4]
    )
    df = spark.createDataFrame(
        [(1, bytearray(png))], "doc_id long, payload binary"
    )
    row = multimodal.decode_features(
        df, dim=width * height, decode="strict"
    ).collect()[0]
    want = [(r + g + b) / 3.0 / 255.0 for (r, g, b) in pixels]
    assert row.features == pytest.approx(want, abs=1e-6)


def test_strict_decode_png_grayscale_color_type(spark):
    import struct
    import zlib

    # 3×1 grayscale (color type 0): values 0, 128, 255, Sub-filtered
    scan = bytes([1, 0, 128, 127])  # 0, 0+128, 128+127=255

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 3, 1, 8, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b""))
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    row = multimodal.decode_features(df, dim=3, decode="strict").collect()[0]
    assert (row.height, row.width) == (1, 3)
    assert row.features == pytest.approx([0.0, 128 / 255, 1.0], abs=1e-6)


def test_strict_decode_png_roundtrip_random_images(spark):
    """Property-style: 25 seeded random RGB images (sizes 1..8, random
    filter per row drawn from all five) must round-trip make_png_rgb8 →
    strict decode exactly. Expected features computed by an independent
    in-test segment-means model over the raw pixels."""
    import random

    rng = random.Random(1234)
    rows, want = [], {}
    for i in range(25):
        w, h = rng.randint(1, 8), rng.randint(1, 8)
        pixels = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(w * h)
        ]
        filters = [rng.randint(0, 4) for _ in range(h)]
        rows.append((i, bytearray(multimodal.make_png_rgb8(pixels, w, h, filters))))
        gray = [(r + g + b) / 3.0 / 255.0 for (r, g, b) in pixels]
        # independent segment-means model (dim=4)
        segs = []
        for s in range(4):
            lo, hi = (s * len(gray)) // 4, ((s + 1) * len(gray)) // 4
            seg = gray[lo:hi]
            segs.append(sum(seg) / len(seg) if seg else 0.0)
        want[i] = (h, w, segs)
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = multimodal.decode_features(df, dim=4, decode="strict").collect()
    assert len(got) == 25
    for r in got:
        h, w, segs = want[r.doc_id]
        assert (r.height, r.width) == (h, w), r.doc_id
        assert r.features == pytest.approx(segs, abs=1e-6), r.doc_id


def test_strict_decode_png_rejects_corruption_and_interlace(spark):
    import pytest as _pytest

    # flip a pixel byte inside IDAT without fixing the CRC
    bad = bytearray(_hand_png())
    bad[-18] ^= 0xFF
    df = spark.createDataFrame([(1, bad)], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="CRC mismatch"):
        multimodal.decode_features(df, decode="strict").collect()

    import struct
    import zlib

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    # Adam7-interlaced header → loud NotImplementedError, never wrong pixels
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00\x00")) + chunk(b"IEND", b""))
    dfi = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="interlace"):
        multimodal.decode_features(dfi, decode="strict").collect()


def _png_from_scan(width: int, height: int, ctype: int, scan: bytes) -> bytes:
    """Pack already-filtered scanlines into a CRC-valid 8-bit PNG."""
    import struct
    import zlib

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b""))


def _filter_scanlines(lines: list, filters: list, bpp: int) -> bytes:
    """Spec-side PNG filtering of raw scanlines (bpp = bytes per pixel),
    written independently of the package's encoder."""
    scan, prev = bytearray(), bytes(len(lines[0]))
    for cur, f in zip(lines, filters):
        scan.append(f)
        for x, v in enumerate(cur):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pae = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            scan.append((v - (0, a, b, (a + b) // 2, pae)[f]) & 0xFF)
        prev = cur
    return bytes(scan)


@pytest.mark.parametrize("ctype", [4, 6])
def test_png_alpha_color_types_decode_but_never_transcode(spark, ctype):
    """Gray+alpha (4) and RGBA (6) PNGs: strict decode_features ignores
    alpha and matches an in-test segment-means model through every
    filter; transcode_images and resize_images refuse them, because an
    RGB re-encode would silently drop the alpha channel."""
    import random

    rng = random.Random(40 + ctype)
    ch = {4: 2, 6: 4}[ctype]
    rows, want = [], {}
    for i in range(8):
        w, h = rng.randint(1, 7), rng.randint(1, 7)
        lines = [
            bytes(rng.randrange(256) for _ in range(w * ch)) for _ in range(h)
        ]
        filters = [rng.randint(0, 4) for _ in range(h)]
        rows.append((i, bytearray(
            _png_from_scan(w, h, ctype, _filter_scanlines(lines, filters, ch))
        )))
        flat = b"".join(lines)
        pixels = [flat[k : k + ch] for k in range(0, len(flat), ch)]
        if ctype == 4:
            gray = [p[0] / 255.0 for p in pixels]
        else:
            gray = [(p[0] + p[1] + p[2]) / 3.0 / 255.0 for p in pixels]
        segs = []
        for s in range(4):
            lo, hi = (s * len(gray)) // 4, ((s + 1) * len(gray)) // 4
            seg = gray[lo:hi]
            segs.append(sum(seg) / len(seg) if seg else 0.0)
        want[i] = (h, w, segs)
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = multimodal.decode_features(df, dim=4, decode="strict").collect()
    assert len(got) == len(want)
    for r in got:
        h, w, segs = want[r.doc_id]
        assert (r.media_type, r.height, r.width) == ("image/png", h, w)
        assert r.features == pytest.approx(segs, abs=1e-6), r.doc_id
    with pytest.raises(Exception, match="alpha"):
        multimodal.transcode_images(df).collect()
    with pytest.raises(Exception, match="alpha"):
        multimodal.resize_images(df, 2, 2).collect()


def test_transcode_rejects_corrupt_png_scanlines(spark):
    """A CRC-valid PNG whose filter byte is 5 (no such filter) or whose
    inflated scanlines are one byte short must fail the transcode loudly,
    never be re-encoded as guessed pixels."""
    bad_filter = _png_from_scan(2, 1, 2, bytes([5, 1, 2, 3, 4, 5, 6]))
    df = spark.createDataFrame(
        [(1, bytearray(bad_filter))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="filter"):
        multimodal.transcode_images(df).collect()
    short = _png_from_scan(2, 1, 2, bytes([0, 1, 2, 3, 4, 5]))
    df = spark.createDataFrame([(1, bytearray(short))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="wrong length"):
        multimodal.transcode_images(df).collect()


# ---------------------------------------------------------------------------
# STRICT baseline-JPEG codec (round 5: the entropy-codec seam narrows to
# MP3/progressive). The byte-literal fixture below is assembled from T.81
# spec constants transcribed INDEPENDENTLY in this test file (standard DC/AC
# luminance huffman tables, hand-derived entropy bits), so a mirrored
# encoder+decoder bug cannot hide.
# ---------------------------------------------------------------------------

_DC_LUM_BITS = bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0])
_AC_LUM_BITS = bytes([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D])
_AC_LUM_VALS = bytes(
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA]
)


def _hand_jpeg() -> bytes:
    """8×8 grayscale baseline JPEG, constant pixel 130, quant all-1 —
    assembled byte-by-byte from the spec. Level-shifted DC for a constant
    block is 8·(130−128) = 16: category 5 (std DC-lum canonical code 110),
    amplitude bits 10000, then EOB (std AC-lum code 1010). Bitstream
    110·10000·1010 padded with four 1s = 0xD0 0xAF."""
    import struct

    def seg(marker, body):
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes((1, 0x11, 0)))
        + seg(0xC4, bytes([0x00]) + _DC_LUM_BITS + bytes(range(12)))
        + seg(0xC4, bytes([0x10]) + _AC_LUM_BITS + _AC_LUM_VALS)
        + seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
        + b"\xd0\xaf"
        + b"\xff\xd9"
    )


def test_hand_assembled_jpeg_decodes_to_exact_pixels():
    h, w, mode, px = multimodal.decode_jpeg_baseline(_hand_jpeg())
    assert (h, w, mode) == (8, 8, "gray")
    assert px == [130] * 64


def test_make_jpeg_entropy_segment_matches_hand_coding():
    """The encoder's huffman output for the same image must end with the
    hand-derived entropy bytes 0xD0 0xAF before EOI — pins the encoder to
    the spec independently of the decoder."""
    data = multimodal.make_jpeg_baseline([130] * 64, 8, 8, quant=[1] * 64)
    assert data[:2] == b"\xff\xd8"
    assert data[-4:] == b"\xd0\xaf\xff\xd9"
    # and it round-trips through the strict decoder exactly
    assert multimodal.decode_jpeg_baseline(data)[3] == [130] * 64


def test_jpeg_constant_blocks_roundtrip_exactly():
    """Seeded random mosaics of constant 8×8 blocks with DC quant step 8
    round-trip EXACTLY: DC = 8·(v−128) quantizes losslessly and all AC are
    zero — the anchor that makes the strict JPEG path value-hashable."""
    import random

    rng = random.Random(42)
    for _ in range(5):
        bw, bh = rng.randint(1, 4), rng.randint(1, 4)
        vals = [rng.randrange(256) for _ in range(bw * bh)]
        w, h = bw * 8, bh * 8
        px = [vals[(y // 8) * bw + (x // 8)] for y in range(h) for x in range(w)]
        data = multimodal.make_jpeg_baseline(px, w, h, quant=[8] + [16] * 63)
        got = multimodal.decode_jpeg_baseline(data)
        assert got == (h, w, "gray", px)


def test_jpeg_gray_roundtrip_within_quant_error():
    """Full AC path: seeded random grayscale images (incl. non-multiple-of-8
    sizes) with an all-ones quant table round-trip within 1 gray level —
    the only loss left is FDCT/IDCT float rounding."""
    import random

    rng = random.Random(7)
    for w, h in [(8, 8), (17, 9), (1, 1), (5, 24), (16, 16)]:
        px = [rng.randrange(256) for _ in range(w * h)]
        data = multimodal.make_jpeg_baseline(px, w, h, quant=[1] * 64)
        gh, gw, mode, out = multimodal.decode_jpeg_baseline(data)
        assert (gh, gw, mode) == (h, w, "gray")
        assert max(abs(a - b) for a, b in zip(px, out)) <= 1, (w, h)


def test_jpeg_color_444_roundtrip():
    """3-component 4:4:4: separate quant/huffman table ids for chroma are
    read back; loss is bounded by the YCbCr round trip (±4 levels)."""
    import random

    rng = random.Random(21)
    px = [
        (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for _ in range(12 * 10)
    ]
    data = multimodal.make_jpeg_baseline(
        px, 12, 10, quant=[1] * 64, quant_chroma=[1] * 64, color=True
    )
    gh, gw, mode, out = multimodal.decode_jpeg_baseline(data)
    assert (gh, gw, mode) == (10, 12, "rgb")
    assert max(abs(a[c] - b[c]) for a, b in zip(px, out) for c in range(3)) <= 4


def test_jpeg_420_subsampled_constant_color_roundtrip():
    """4:2:0: 16×16 MCUs (four Y blocks + box-averaged chroma) and
    replication upsample — a constant-color image survives subsampling
    within rounding (±2)."""
    px = [(200, 100, 50)] * (20 * 12)
    data = multimodal.make_jpeg_baseline(px, 20, 12, color=True, subsample=True)
    gh, gw, mode, out = multimodal.decode_jpeg_baseline(data)
    assert (gh, gw, mode) == (12, 20, "rgb")
    assert max(abs(a[c] - b[c]) for a, b in zip(px, out) for c in range(3)) <= 2


def test_jpeg_restart_markers_and_byte_stuffing():
    """DRI/RSTn handling and 0xFF00 destuffing are load-bearing: the seeded
    image provably contains stuffed bytes and restart markers, and still
    round-trips within 1 level."""
    import random

    rng = random.Random(99)
    px = [rng.randrange(256) for _ in range(32 * 24)]
    data = multimodal.make_jpeg_baseline(
        px, 32, 24, quant=[1] * 64, restart_interval=2
    )
    entropy = data[data.index(b"\xff\xda") :]
    assert b"\xff\x00" in entropy  # stuffing exercised
    assert any(bytes((0xFF, 0xD0 + i)) in entropy for i in range(8))  # restarts
    gh, gw, mode, out = multimodal.decode_jpeg_baseline(data)
    assert max(abs(a - b) for a, b in zip(px, out)) <= 1


def test_jpeg_multiscan_raises_loudly():
    """A spec-valid multi-scan (non-interleaved) baseline file must raise,
    not silently return the last scan's channel as grayscale (round-5
    review finding): splice a second SOS+scan into a good stream."""
    import pytest as _pytest

    data = multimodal.make_jpeg_baseline([130] * 64, 8, 8, quant=[1] * 64)
    sos_at = data.index(b"\xff\xda")
    second = data[sos_at:-2]  # SOS header + entropy bytes, minus EOI
    doubled = data[:-2] + second + b"\xff\xd9"
    with _pytest.raises(NotImplementedError, match="multi-scan"):
        multimodal.decode_jpeg_baseline(doubled)


def test_sniff_recognizes_exif_jpeg(spark):
    """strict decode dispatches on the 2-byte FFD8, so the sniff table
    must classify EXIF/raw JPEGs (FF D8 FF E1 ...) as image/jpeg too, not
    octet-stream (round-5 review finding)."""
    rows = [
        (1, bytearray(b"\xff\xd8\xff\xe1Exif\x00\x00rest")),
        (2, bytearray(b"\xff\xd8\xff\xdbquant-first")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = multimodal.binary_stats(df).collect()
    assert all(r.media_type == "image/jpeg" for r in got)


def test_flac_multibyte_frame_numbers_roundtrip():
    """Tiny blocks force thousands of frames: the UTF-8-style frame-number
    coding crosses the 1→2→3-byte boundaries (minimal forms — the old
    formula emitted spec-invalid overlong codings past 2^11)."""
    import random

    rng = random.Random(31)
    s = [rng.randrange(-32768, 32768) for _ in range(2100 * 16)]
    data = multimodal.make_flac(s, 8000, 1, block_size=16)
    assert multimodal.decode_flac(data) == (1, 8000, s)


def test_jpeg_progressive_decodes_identically_to_sequential():
    """Progressive (SOF2) files — 4-scan script with successive
    approximation — must decode to EXACTLY the same pixels as the
    sequential encoding of the same image (the refined coefficients are
    identical by construction): dense large coefficients exercise the
    correction-bit paths, Annex K quantization exercises EOB runs and
    newly-significant coding."""
    import random

    rng = random.Random(7)
    for w, h in [(8, 8), (17, 9), (1, 1), (32, 24)]:
        px = [rng.randrange(256) for _ in range(w * h)]
        prog = multimodal.make_jpeg_progressive(px, w, h, quant=[1] * 64)
        seq = multimodal.make_jpeg_baseline(px, w, h, quant=[1] * 64)
        assert multimodal.decode_jpeg_baseline(prog) == \
            multimodal.decode_jpeg_baseline(seq), (w, h)
    # heavy default quantization: long EOB runs + sparse refinement
    px = [rng.randrange(256) for _ in range(64 * 48)]
    assert multimodal.decode_jpeg_baseline(
        multimodal.make_jpeg_progressive(px, 64, 48)
    ) == multimodal.decode_jpeg_baseline(multimodal.make_jpeg_baseline(px, 64, 48))


def test_jpeg_progressive_constant_blocks_exact():
    vals = [40, 90, 126, 32]
    px = [vals[(y // 8) * 2 + (x // 8)] for y in range(16) for x in range(16)]
    prog = multimodal.make_jpeg_progressive(px, 16, 16, quant=[8] + [16] * 63)
    assert multimodal.decode_jpeg_baseline(prog) == (16, 16, "gray", px)


def test_jpeg_progressive_color_matches_sequential():
    import random

    rng = random.Random(21)
    px = [
        (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for _ in range(12 * 10)
    ]
    prog = multimodal.make_jpeg_progressive(
        px, 12, 10, quant=[1] * 64, quant_chroma=[1] * 64, color=True
    )
    seq = multimodal.make_jpeg_baseline(
        px, 12, 10, quant=[1] * 64, quant_chroma=[1] * 64, color=True
    )
    assert multimodal.decode_jpeg_baseline(prog) == \
        multimodal.decode_jpeg_baseline(seq)


def test_jpeg_progressive_via_spark_strict_decode(spark):
    vals = [40, 90, 126, 32]
    px = [vals[(y // 8) * 2 + (x // 8)] for y in range(16) for x in range(16)]
    data = multimodal.make_jpeg_progressive(px, 16, 16, quant=[8] + [16] * 63)
    df = spark.createDataFrame(
        [(1, bytearray(data))], "doc_id long, payload binary"
    )
    row = multimodal.decode_features(df, dim=256, decode="strict").collect()[0]
    assert (row.media_type, row.height, row.width) == ("image/jpeg", 16, 16)
    assert row.features == pytest.approx([v / 255.0 for v in px], abs=1e-6)


def test_jpeg_hostile_header_dims_rejected_cheaply():
    """A <150-byte payload claiming enormous frame dims must be rejected
    BEFORE allocating the coefficient store / pixel planes (the strict
    decode path runs inside Spark workers — an OOM there kills the task
    slot; round-5 review finding)."""
    import pytest as _pytest
    import struct

    def seg(marker, body):
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    dht = seg(0xC4, bytes([0x00]) + bytes([0, 1] + [0] * 14) + bytes([0]))
    sos = seg(0xDA, bytes([1, 1, 0x00]) + bytes((0, 0, 0x10)))
    prog = (
        b"\xff\xd8"
        + seg(0xC2, struct.pack(">BHHB", 8, 8000, 8000, 1) + bytes((1, 0x11, 0)))
        + dht + sos + b"\xff\xd9"
    )
    with _pytest.raises(ValueError, match="refusing"):
        multimodal.decode_jpeg_baseline(prog)
    seq = (
        b"\xff\xd8"
        + seg(0xC0, struct.pack(">BHHB", 8, 65000, 65000, 1) + bytes((1, 0x11, 0)))
        + dht
        + seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
        + b"\xff\xd9"
    )
    with _pytest.raises(ValueError, match="refusing"):
        multimodal.decode_jpeg_baseline(seq)


def test_jpeg_arithmetic_and_lossless_still_raise():
    import pytest as _pytest
    import struct

    def seg(marker, body):
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    for sof in (0xC3, 0xC9, 0xCB):  # lossless / arithmetic / arith-prog
        blob = (
            b"\xff\xd8"
            + seg(sof, struct.pack(">BHHB", 8, 8, 8, 1) + bytes((1, 0x11, 0)))
            + b"\xff\xd9"
        )
        with _pytest.raises(NotImplementedError):
            multimodal.decode_jpeg_baseline(blob)


def test_strict_decode_jpeg_via_spark(spark):
    """decode='strict' dispatches FFD8 payloads to the JPEG decoder inside
    mapInPandas (closure captures the factory-local decoder BY VALUE, so it
    stays hostile-cwd-safe) and the features are per-pixel exact for a
    constant-block fixture."""
    vals = [40, 90, 126, 32]
    px = [vals[(y // 8) * 2 + (x // 8)] for y in range(16) for x in range(16)]
    data = multimodal.make_jpeg_baseline(px, 16, 16, quant=[8] + [16] * 63)
    df = spark.createDataFrame(
        [(1, bytearray(data))], "doc_id long, payload binary"
    )
    row = multimodal.decode_features(df, dim=256, decode="strict").collect()[0]
    assert (row.media_type, row.height, row.width) == ("image/jpeg", 16, 16)
    # array<float> storage: exact at float32 precision
    assert row.features == pytest.approx([v / 255.0 for v in px], abs=1e-6)


# ---------------------------------------------------------------------------
# STRICT GIF codec (round 5): real variable-width LZW. Lossless, so every
# round-trip asserts EXACT pixels.
# ---------------------------------------------------------------------------

def test_gif_roundtrip_exact_and_lzw_growth():
    """Seeded random images up to 256 distinct colors: 100×80 forces the
    LZW dict past 4096 (clear-code reset) and through every code width
    9→12; all round-trip exactly."""
    import random

    rng = random.Random(5)
    for w, h in [(3, 2), (16, 16), (7, 3), (1, 1), (100, 80)]:
        pal = [(i, (i * 7) % 256, (i * 13) % 256) for i in range(256)]
        px = [pal[rng.randrange(256)] for _ in range(w * h)]
        data = multimodal.make_gif(px, w, h)
        assert multimodal.decode_gif(data) == (h, w, "rgb", px), (w, h)


def test_gif_kwkwk_case_constant_image():
    """A constant-color image makes the encoder emit a code the decoder
    has not yet defined (the classic KwKwK corner) — must decode exactly."""
    px = [(9, 200, 31)] * (25 * 9)
    data = multimodal.make_gif(px, 25, 9)
    assert multimodal.decode_gif(data) == (9, 25, "rgb", px)


def test_gif_interlace_roundtrip():
    """Interlaced write stores rows in 4-pass order (height 13 → a real
    permutation); decode must restore image order exactly."""
    import random

    rng = random.Random(11)
    px = [(rng.randrange(256),) * 3 for _ in range(10 * 13)]
    data = multimodal.make_gif(px, 10, 13, interlace=True)
    assert multimodal.decode_gif(data) == (13, 10, "rgb", px)
    # and the interlaced bytes differ from the sequential ones (the flag
    # is load-bearing, not decorative)
    assert data != multimodal.make_gif(px, 10, 13)


def test_gif_extension_blocks_are_skipped():
    """A Graphic Control Extension between header and image data (what
    every GIF89a animation tool emits) must be walked over, not tripped
    on."""
    px = [(1, 2, 3), (4, 5, 6)]
    data = multimodal.make_gif(px, 2, 1)
    # splice a GCE right before the image descriptor (0x2C)
    at = data.index(b"\x2c")
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    spliced = data[:at] + gce + data[at:]
    assert multimodal.decode_gif(spliced) == (1, 2, "rgb", px)


def test_gif_rejects_garbage_and_truncation():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="signature"):
        multimodal.decode_gif(b"GIF99a" + b"\x00" * 20)
    px = [(1, 2, 3)] * 4
    data = multimodal.make_gif(px, 2, 2)
    with _pytest.raises(ValueError):
        multimodal.decode_gif(data[:-6])  # drop the tail of the stream
    with _pytest.raises(ValueError, match="256"):
        multimodal.make_gif(
            [(i % 256, i // 256, 0) for i in range(300)], 30, 10
        )


def test_gif_animated_roundtrip_and_delays():
    """Full-frame animated GIF: decode_gif_frames returns every frame's
    exact pixels and per-frame GCE delays in order."""
    import random

    rng = random.Random(31)
    w, h = 6, 5
    frames = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(w * h)]
        for _ in range(4)
    ]
    data = multimodal.make_gif_animated(w, h, frames, delays_cs=[3, 5, 8, 13], loop=2)
    sh, sw, mode, out = multimodal.decode_gif_frames(data)
    assert (sh, sw, mode) == (h, w, "rgb")
    assert [d for d, _ in out] == [3, 5, 8, 13]
    assert [px for _, px in out] == frames


def test_gif_animated_subrect_transparency_compositing():
    """Sub-rectangle delta frames composite onto the logical screen at
    (left, top); pixels written as the transparent index keep the
    UNDERLYING canvas value."""
    base = [(10, 10, 10)] * 6  # 3x2
    sub = [(255, 0, 0), (50, 50, 50), (60, 60, 60), (70, 70, 70)]
    data = multimodal.make_gif_animated(
        3, 2, [base, (1, 0, 2, 2, sub)], delays_cs=[5, 9], transparent=(255, 0, 0)
    )
    sh, sw, _mode, out = multimodal.decode_gif_frames(data)
    assert (sh, sw) == (2, 3)
    assert out[0][1] == base
    # sub-rect covers x in {1,2}; its first pixel is transparent -> keeps 10
    assert out[1][1] == [
        (10, 10, 10), (10, 10, 10), (50, 50, 50),
        (10, 10, 10), (60, 60, 60), (70, 70, 70),
    ]


def test_gif_animated_disposal_methods():
    """Disposal 2 restores the frame's rectangle to the BACKGROUND color
    after its snapshot; disposal 3 restores the pre-frame canvas."""
    f0 = [(1, 2, 3), (4, 5, 6)]  # 2x1
    red_dot = (0, 0, 1, 1, [(200, 0, 0)])
    tail = (1, 0, 1, 1, [(9, 9, 9)])
    # disposal 2 on the middle frame: after it, px0 = background (palette[0])
    data = multimodal.make_gif_animated(2, 1, [f0, red_dot, tail], disposals=[1, 2, 1])
    _, _, _, out = multimodal.decode_gif_frames(data)
    assert out[1][1][0] == (200, 0, 0)
    bg = out[2][1][0]
    assert bg != (200, 0, 0) and out[2][1][1] == (9, 9, 9)
    # disposal 3 on the middle frame: the tail frame composites over f0 again
    data3 = multimodal.make_gif_animated(2, 1, [f0, red_dot, tail], disposals=[1, 3, 1])
    _, _, _, out3 = multimodal.decode_gif_frames(data3)
    assert out3[1][1][0] == (200, 0, 0)
    assert out3[2][1] == [(1, 2, 3), (9, 9, 9)]


def test_gif_animated_byte_literal_fixture():
    """Hand-assembled 2-frame animated GIF89a (independent of our encoder):
    4-color global palette, NETSCAPE2.0 loop block, GCE delays 10/20 cs,
    frame 2 a 1x1 sub-rect at x=1 with the transparency flag set to an
    UNMATCHED index — decoded frames, delays and compositing must match
    the spec-derived expectation exactly (LZW codes hand-packed LSB-first:
    clear=100b,1=001b,2=010b,eoi=101b -> 0x8C 0x0A etc.)."""
    data = bytes(
        b"GIF89a"
        + b"\x02\x00\x01\x00"  # 2x1 logical screen
        + b"\x91\x00\x00"      # global table, 4 entries, bg=0
        + b"\x00\x00\x00\xff\x00\x00\x00\xff\x00\x00\x00\xff"  # palette
        + b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop ext
        + b"\x21\xf9\x04\x04\x0a\x00\x00\x00"  # GCE: disposal 1, delay 10
        + b"\x2c\x00\x00\x00\x00\x02\x00\x01\x00\x00"  # full 2x1 image
        + b"\x02\x02\x8c\x0a\x00"  # min_code 2; LZW [clear,1,2,eoi]
        + b"\x21\xf9\x04\x05\x14\x00\x03\x00"  # GCE: transp flag, idx 3, delay 20
        + b"\x2c\x01\x00\x00\x00\x01\x00\x01\x00\x00"  # 1x1 sub-rect at x=1
        + b"\x02\x02\x44\x01\x00"  # LZW [clear,0,eoi]
        + b"\x3b"
    )
    sh, sw, mode, out = multimodal.decode_gif_frames(data)
    assert (sh, sw, mode) == (1, 2, "rgb")
    assert [d for d, _ in out] == [10, 20]
    assert out[0][1] == [(255, 0, 0), (0, 255, 0)]
    # frame 2 paints palette[0] at x=1 (index 0 != transparent index 3)
    assert out[1][1] == [(255, 0, 0), (0, 0, 0)]
    # and decode_gif (first frame) agrees with the composited frame 0
    assert multimodal.decode_gif(data) == (1, 2, "rgb", [(255, 0, 0), (0, 255, 0)])


def test_gif_animated_five_pixel_tuple_frame_is_not_a_rect():
    """A full frame that happens to be a 5-PIXEL TUPLE must be treated as
    pixels, not misparsed as a (left, top, fw, fh, px) rectangle spec."""
    fr = ((1, 1, 1), (2, 2, 2), (3, 3, 3), (4, 4, 4), (5, 5, 5))
    data = multimodal.make_gif_animated(5, 1, [fr])
    assert multimodal.decode_gif_frames(data)[3][0][1] == list(fr)


def test_gif_animated_caps_and_bounds():
    import pytest as _pytest

    # hostile logical-screen header: 65535x65535 canvas must be refused
    hostile = b"GIF89a" + b"\xff\xff\xff\xff\x00\x00\x00" + b"\x3b"
    with _pytest.raises(ValueError, match="cap"):
        multimodal.decode_gif_frames(hostile)
    # encoder refuses frames that exceed the logical screen
    with _pytest.raises(ValueError, match="exceeds"):
        multimodal.make_gif_animated(2, 2, [(1, 1, 2, 2, [(0, 0, 0)] * 4)])
    # mismatched delay list is loud, not silently recycled
    with _pytest.raises(ValueError, match="frame count"):
        multimodal.make_gif_animated(1, 1, [[(0, 0, 0)]], delays_cs=[1, 2])


def test_sample_video_frames_spark(spark):
    """The Spark frame-sampling stage: every-2nd composited frame, start
    timestamps = cumulative delays, per-pixel features (dim == n_pixels)."""
    import struct as _st

    rows = []
    for i in range(2):
        frames = [[(10 * i + f, 10 * i + f, 10 * i + f)] * 4 for f in range(3)]
        rows.append(
            (i, bytearray(multimodal.make_gif_animated(2, 2, frames, delays_cs=[4, 6, 8])))
        )
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = multimodal.sample_video_frames(df, every=2, dim=4).collect()
    by_key = {(r.doc_id, r.frame_index): r for r in got}
    assert len(got) == 4  # frames 0 and 2 per doc
    for i in range(2):
        for fno, t in [(0, 0), (2, 10)]:
            r = by_key[(i, fno)]
            assert r.t_cs == t and r.n_frames == 3 and (r.height, r.width) == (2, 2)
            # features column is float32 — compare through the same cast
            want = _st.unpack("f", _st.pack("f", (10 * i + fno) / 255.0))[0]
            assert r.features == [want] * 4


def test_strict_decode_gif_via_spark(spark):
    px = [(v, v, v) for v in (10, 250, 0, 99, 31, 77)]
    data = multimodal.make_gif(px, 3, 2)
    df = spark.createDataFrame(
        [(1, bytearray(data))], "doc_id long, payload binary"
    )
    row = multimodal.decode_features(df, dim=6, decode="strict").collect()[0]
    assert (row.media_type, row.height, row.width) == ("image/gif", 2, 3)
    want = [v / 255.0 for v in (10, 250, 0, 99, 31, 77)]
    assert row.features == pytest.approx(want, abs=1e-6)


# ---------------------------------------------------------------------------
# STRICT FLAC codec (round 5): Rice coding + linear prediction — the
# lossless AUDIO twin of GIF/PNG. Every assertion is EXACT samples.
# ---------------------------------------------------------------------------

def test_flac_roundtrip_all_subframe_types():
    import random

    rng = random.Random(3)
    noise = [rng.randrange(-32768, 32768) for _ in range(1000)]
    ramp = [((i * 37) % 4000) - 2000 for i in range(600)]
    cases = [
        (noise, "auto"),       # fixed order 2 + rice
        (noise, "verbatim"),
        ([1234] * 500, "constant"),
        (ramp, "fixed:0"), (ramp, "fixed:1"), (ramp, "fixed:3"),
        (ramp, "fixed:4"),
        (ramp, "lpc:1"), (ramp, "lpc:4"),  # genuine LPC bitstream
    ]
    for samples, kind in cases:
        data = multimodal.make_flac(samples, 8000, 1, subframe=kind)
        assert multimodal.decode_flac(data) == (1, 8000, samples), kind


def test_flac_all_stereo_decorrelations():
    """Independent, left/side, right/side and mid/side all reconstruct the
    same interleaved samples bit-exactly (the side channel is 17-bit)."""
    import random

    rng = random.Random(13)
    s = [rng.randrange(-32768, 32768) for _ in range(800)]
    blobs = set()
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        data = multimodal.make_flac(s, 16000, 2, stereo=mode)
        assert multimodal.decode_flac(data) == (2, 16000, s), mode
        blobs.add(data)
    assert len(blobs) == 4  # four genuinely different encodings


def test_flac_multiframe_and_wasted_bits():
    import random

    rng = random.Random(17)
    s = [rng.randrange(-32768, 32768) for _ in range(10000)]
    data = multimodal.make_flac(s, 8000, 1, block_size=1024)
    assert multimodal.decode_flac(data) == (1, 8000, s)
    # samples sharing 4 trailing zero bits trigger the wasted-bits path
    # AND make the file smaller — the flag is load-bearing
    sw = [rng.randrange(-2048, 2048) * 16 for _ in range(500)]
    dw = multimodal.make_flac(sw, 8000, 1)
    assert multimodal.decode_flac(dw) == (1, 8000, sw)
    assert len(dw) < len(multimodal.make_flac([v + 1 for v in sw], 8000, 1))


def test_flac_integrity_checks_fire():
    """Flip one bit anywhere in the stream: the decoder must raise (CRC-8,
    CRC-16 or md5), never return silently wrong samples."""
    import random

    rng = random.Random(23)
    s = [rng.randrange(-32768, 32768) for _ in range(256)]
    good = multimodal.make_flac(s, 8000, 1)
    for at in (len(good) - 10, len(good) // 2, 45):
        bad = bytearray(good)
        bad[at] ^= 0x10
        try:
            got = multimodal.decode_flac(bytes(bad))
        except (ValueError, NotImplementedError, IndexError):
            continue
        assert got != (1, 8000, s), f"corruption at {at} decoded silently wrong"
    with pytest.raises(ValueError, match="signature"):
        multimodal.decode_flac(b"fLaX" + good[4:])


def test_strict_decode_flac_via_spark(spark):
    samples = [(c - 128) * 256 for c in b"spark!"]
    data = multimodal.make_flac(samples, 8000, 1, subframe="fixed:2")
    df = spark.createDataFrame(
        [(1, bytearray(data))], "doc_id long, payload binary"
    )
    row = multimodal.decode_features(df, dim=6, decode="strict").collect()[0]
    assert (row.media_type, row.height, row.width) == ("audio/flac", 1, 8000)
    want = [s / 32768.0 for s in samples]
    assert row.features == pytest.approx(want, abs=1e-6)


def test_resize_images_nearest_and_box(spark):
    """Nearest upscale replicates exact source pixels (integer index
    map); box downscale floor-averages each source box; both survive the
    PNG re-encode byte-exactly and accept any input container."""
    px = [(10, 10, 10), (20, 20, 20), (30, 30, 30), (40, 40, 40)]  # 2x2
    rows = [
        (0, bytearray(multimodal.make_gif(px, 2, 2))),
        (1, bytearray(multimodal.make_bmp_24(px, 2, 2))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    up = {
        r.doc_id: multimodal.decode_png_rgb8(bytes(r.payload))
        for r in multimodal.resize_images(df, 4, 4, method="nearest").collect()
    }
    for i in (0, 1):
        h, w, _m, out = up[i]
        assert (h, w) == (4, 4)
        # each source pixel becomes a 2x2 block
        assert out[0] == out[1] == out[4] == out[5] == (10, 10, 10)
        assert out[10] == out[11] == out[14] == out[15] == (40, 40, 40)
    down = {
        r.doc_id: multimodal.decode_png_rgb8(bytes(r.payload))
        for r in multimodal.resize_images(df, 1, 1, method="box").collect()
    }
    assert down[0][3] == [(25, 25, 25)]  # floor((10+20+30+40)/4)
    with pytest.raises(ValueError, match="method"):
        multimodal.resize_images(df, 1, 1, method="bicubic")


def test_tar_shards_roundtrip_and_determinism(spark, tmp_path):
    """WebDataset tar shards: every payload survives the pack/walk
    roundtrip; shard BYTES are rerun-stable (normalized headers, sorted
    members); directory members are skipped on read."""
    import hashlib
    import io as _io
    import tarfile

    rows = [(i, bytes([i % 251]) * (i + 1)) for i in range(20)]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in rows], "doc_id long, payload binary"
    )
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    m1 = multimodal.write_tar_shards(df, d1, n_shards=3).collect()
    m2 = multimodal.write_tar_shards(df, d2, n_shards=3).collect()
    assert sum(r.n_members for r in m1) == 20
    import os

    for f in sorted(os.listdir(d1)):
        assert open(os.path.join(d1, f), "rb").read() == open(
            os.path.join(d2, f), "rb"
        ).read(), f"shard {f} bytes not deterministic"
    got = {
        int(r.member.split(".")[0]): bytes(r.payload)
        for r in multimodal.read_tar_shards(spark, d1).collect()
    }
    assert got == dict(rows)
    # a directory member must be walked over, not emitted
    buf = _io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        dinfo = tarfile.TarInfo(name="subdir")
        dinfo.type = tarfile.DIRTYPE
        tf.addfile(dinfo)
        finfo = tarfile.TarInfo(name="9.bin")
        finfo.size = 3
        tf.addfile(finfo, _io.BytesIO(b"abc"))
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "shard-00000.tar").write_bytes(buf.getvalue())
    only = multimodal.read_tar_shards(spark, str(tmp_path / "c")).collect()
    assert len(only) == 1 and bytes(only[0].payload) == b"abc"
    # NULL payloads are loud at pack time
    bad = spark.createDataFrame([(1, None)], "doc_id long, payload binary")
    with pytest.raises(Exception, match="NULL payload"):
        multimodal.write_tar_shards(bad, str(tmp_path / "d")).collect()
    # compressed shards: .tar.gz suffix, deterministic gzip bytes
    # (mtime pinned), auto-detected by the same reader
    g1, g2 = str(tmp_path / "g1"), str(tmp_path / "g2")
    multimodal.write_tar_shards(df, g1, n_shards=2, compress=True).collect()
    multimodal.write_tar_shards(df, g2, n_shards=2, compress=True).collect()
    for f in sorted(os.listdir(g1)):
        assert f.endswith(".tar.gz")
        assert open(os.path.join(g1, f), "rb").read() == open(
            os.path.join(g2, f), "rb"
        ).read(), f"compressed shard {f} bytes not deterministic"
    gz_got = {
        int(r.member.split(".")[0]): bytes(r.payload)
        for r in multimodal.read_tar_shards(spark, g1).collect()
    }
    assert gz_got == dict(rows)


def test_tar_shards_review_fixes(spark, tmp_path):
    """Round-5 review regressions: duplicate member names are refused
    (they'd corrupt the tar AND make shard bytes shuffle-order-dependent);
    extensionless members and dotfiles keep their own stems instead of
    merging into a phantom '' sample."""
    dup = spark.createDataFrame(
        [(1, bytearray(b"a")), (1, bytearray(b"b"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="duplicate member name"):
        multimodal.write_tar_shards(dup, str(tmp_path / "dup")).collect()

    members = spark.createDataFrame(
        [
            ("s", "README", bytearray(b"r")),
            ("s", ".gitignore", bytearray(b"g")),
            ("s", "1.txt", bytearray(b"t")),
        ],
        "shard string, member string, payload binary",
    )
    got = {
        r.sample_id: dict(r.parts)
        for r in multimodal.group_tar_samples(members).collect()
    }
    assert set(got) == {"README", ".gitignore", "1"}
    assert got["README"] == {"": b"r"}
    assert got[".gitignore"] == {"": b"g"}
    assert got["1"] == {"txt": b"t"}


def test_zip_shards_roundtrip_and_determinism(spark, tmp_path):
    """ZIP shards: payload roundtrip (stored AND deflated), byte-level
    rerun determinism (pinned timestamps), duplicate names refused."""
    import os

    rows = [(i, bytes([i % 251]) * (i + 1)) for i in range(12)]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in rows], "doc_id long, payload binary"
    )
    for compress in (False, True):
        d1 = str(tmp_path / f"z1_{compress}")
        d2 = str(tmp_path / f"z2_{compress}")
        m = multimodal.write_zip_shards(df, d1, n_shards=3, compress=compress).collect()
        multimodal.write_zip_shards(df, d2, n_shards=3, compress=compress).collect()
        assert sum(r.n_members for r in m) == 12
        for f in sorted(os.listdir(d1)):
            assert open(os.path.join(d1, f), "rb").read() == open(
                os.path.join(d2, f), "rb"
            ).read(), f"zip shard {f} not deterministic (compress={compress})"
        got = {
            int(r.member.split(".")[0]): bytes(r.payload)
            for r in multimodal.read_zip_members(spark, d1).collect()
        }
        assert got == dict(rows)
    dup = spark.createDataFrame(
        [(1, bytearray(b"a")), (1, bytearray(b"b"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="duplicate member name"):
        multimodal.write_zip_shards(dup, str(tmp_path / "zd")).collect()


def test_mp3_frame_index_roundtrip_and_stats(spark):
    """MP3 container walk: a VBR MPEG-1 Layer III stream built by the
    write-side twin (mixed bitrates/padding + ID3v1 trailer) indexes back
    field-for-field, offsets tile, and mp3_stats integer-exact duration/
    VBR math holds."""
    frames = [(128, 44100, 0), (320, 44100, 1), (32, 44100, 0), (128, 44100, 1)]
    blob = multimodal.make_mp3_frames(frames, id3v1=True)
    df = spark.createDataFrame(
        [(7, bytearray(blob))], "doc_id long, payload binary"
    )
    idx = multimodal.mp3_frame_index(df).orderBy("frame_idx").collect()
    assert [(r.bitrate_kbps, r.padding) for r in idx] == [
        (b, p) for b, _, p in frames
    ]
    assert all(r.version == "MPEG1" and r.samples == 1152 for r in idx)
    sizes = [144 * b * 1000 // r + p for b, r, p in frames]
    assert [r.frame_bytes for r in idx] == sizes
    assert [r.offset for r in idx] == [0, sizes[0], sum(sizes[:2]), sum(sizes[:3])]
    st = multimodal.mp3_stats(df).collect()[0]
    assert st.n_frames == 4 and st.is_vbr == 1
    # sum-then-divide: floor over the TOTAL sample count, not per frame
    # (per-frame flooring would give 4 * (1152 * 1_000_000 // 44100) =
    # 104489792, 3 µs short of the true stream duration)
    assert st.duration_us == 4 * 1152 * 1_000_000 // 44100
    assert st.n_bytes == sum(sizes)
    # sniff: raw sync and ID3-tagged payloads both classify audio/mpeg
    sn = spark.createDataFrame(
        [(0, bytearray(blob)), (1, bytearray(b"ID3\x04\x00\x00\x00\x00\x00\x00" + blob))],
        "doc_id long, payload binary",
    )
    got = [
        r.t
        for r in sn.select(multimodal.sniff_media_type("payload").alias("t"))
        .orderBy("doc_id")
        .collect()
    ]
    assert got == ["audio/mpeg", "audio/mpeg"]


def test_mp3_walker_is_strict(spark):
    """The walker refuses rather than resyncs: lost sync, overrunning
    frames, free-format bitrate, and non-Layer-III all raise."""
    walk = multimodal._mp3_walker()
    good = multimodal.make_mp3_frames([(128, 44100, 0)])
    with pytest.raises(ValueError, match="lost sync"):
        walk(b"\x00" + good)
    with pytest.raises(ValueError, match="overruns"):
        walk(good[:-10])
    free = bytearray(good)
    free[2] = (0 << 4) | free[2] & 0x0F  # bitrate index 0 = free format
    with pytest.raises(NotImplementedError, match="free-format"):
        walk(bytes(free))
    layer2 = bytearray(good)
    layer2[1] = 0xFD  # layer bits 10 = Layer II
    with pytest.raises(NotImplementedError, match="Layer III only"):
        walk(bytes(layer2))
    with pytest.raises(ValueError, match="no audio frames"):
        walk(b"TAG" + b"\x00" * 125)


_REAL_MP3 = "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/test_data/test.mp3"


@pytest.mark.skipif(
    not __import__("os").path.exists(_REAL_MP3), reason="no real mp3 on host"
)
def test_mp3_walker_tiles_a_real_world_file():
    """Ground-truth structural validation: on a REAL MP3 (not built by our
    twin) every predicted frame boundary must land on a sync word and
    ID3v2 + frames + ID3v1 must tile the file byte-exactly — this is what
    validates the bitrate/samplerate tables and the frame-size formula
    against the world, not against ourselves."""
    data = open(_REAL_MP3, "rb").read()
    walk = multimodal._mp3_walker()
    frames, id3v2, id3v1 = walk(data)
    assert frames and id3v2 > 0
    assert id3v2 + sum(f["frame_bytes"] for f in frames) + id3v1 == len(data)
    assert {f["layer"] for f in frames} == {3}
    assert all(f["offset"] + f["frame_bytes"] <= len(data) for f in frames)


def test_atomic_publish_mid_write_failure_leaves_no_torn_file(tmp_path):
    """VERDICT r5 #1 (torn-shard leg): a crash mid-write must never
    expose partial bytes at the final path — before OR instead of a
    complete prior version — and the failed attempt's temp is cleaned."""
    import os

    publish = multimodal._atomic_publish()
    final = str(tmp_path / "shard-00000.tar")
    blob = b"x" * 4096

    # 1) first-ever write dies mid-stream: final never appears
    with pytest.raises(RuntimeError, match="injected mid-write"):
        publish(final, blob, _fail_after=100)
    assert not os.path.exists(final)
    assert os.listdir(tmp_path) == []  # failed temp unlinked, no orphans

    # 2) retry over an existing COMPLETE version dies: old bytes intact
    publish(final, blob)
    assert open(final, "rb").read() == blob
    with pytest.raises(RuntimeError, match="injected mid-write"):
        publish(final, b"y" * 4096, _fail_after=7)
    assert open(final, "rb").read() == blob  # never torn, never partial

    # 3) success replaces atomically
    publish(final, b"y" * 4096)
    assert open(final, "rb").read() == b"y" * 4096
    assert os.listdir(tmp_path) == ["shard-00000.tar"]


def test_atomic_publish_racing_duplicate_attempts(tmp_path):
    """VERDICT r5 #1 (zombie-race leg): speculative/retry duplicates write
    the SAME deterministic bytes concurrently; every interleaving must end
    with an intact final file (unique temps + atomic os.replace)."""
    import threading

    publish = multimodal._atomic_publish()
    final = str(tmp_path / "shard-00001.zip")
    blob = bytes(range(256)) * 64
    errs = []

    def attempt():
        try:
            for _ in range(20):
                publish(final, blob)
        except Exception as e:  # pragma: no cover - race failure surface
            errs.append(e)

    threads = [threading.Thread(target=attempt) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert open(final, "rb").read() == blob


def test_sink_temp_files_invisible_to_readers(spark, tmp_path):
    """A hard-killed task's orphan temp (the one case cleanup can't run)
    must be invisible to every read path: the dot-prefix hides it from
    Spark's binaryFile index and from the *.tar*/*.zip/*.bin globs."""
    import os

    rows = [(i, bytes([65 + i]) * 4) for i in range(6)]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in rows], "doc_id long, payload binary"
    )
    d = str(tmp_path / "shards")
    multimodal.write_tar_shards(df, d, n_shards=2).collect()
    # no temp residue after a clean run
    assert all(not f.endswith(".tmp") for f in os.listdir(d))
    # plant a torn orphan the way a SIGKILLed task would leave one
    with open(os.path.join(d, ".shard-00000.tar.deadbeef.tmp"), "wb") as fh:
        fh.write(b"TORN GARBAGE")
    got = {
        int(r.member.split(".")[0]): bytes(r.payload)
        for r in multimodal.read_tar_shards(spark, d).collect()
    }
    assert got == dict(rows)  # orphan not read, data complete

    # same discipline for the binary-file sink
    b = str(tmp_path / "bins")
    multimodal.write_binary_files(df, b)
    with open(os.path.join(b, ".3.bin.deadbeef.tmp"), "wb") as fh:
        fh.write(b"TORN")
    back = multimodal.read_binary_files(spark, b).collect()
    assert len(back) == 6
    assert {os.path.basename(r.path) for r in back} == {
        f"{i}.bin" for i in range(6)
    }

    # and the zip sink
    z = str(tmp_path / "zips")
    multimodal.write_zip_shards(df, z, n_shards=2).collect()
    with open(os.path.join(z, ".shard-00001.zip.deadbeef.tmp"), "wb") as fh:
        fh.write(b"TORN")
    zgot = {
        int(r.member.split(".")[0]): bytes(r.payload)
        for r in multimodal.read_zip_members(spark, z).collect()
    }
    assert zgot == dict(rows)


def test_transcode_videos_retiming_is_loud(spark):
    """Non-uniform GIF delays cannot ride a single Y4M rate: loud by
    default, opt-in rewrite with allow_retiming=True."""
    frames = [[(v, v, v)] * 4 for v in (10, 20)]
    gif = multimodal.make_gif_animated(2, 2, frames, delays_cs=[7, 11])
    df = spark.createDataFrame([(1, bytearray(gif))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="single Y4M rate"):
        multimodal.transcode_videos(df, target="y4m").collect()
    ok = multimodal.transcode_videos(df, target="y4m", allow_retiming=True).collect()
    assert ok[0].n_frames == 2
    # gif target keeps per-frame delays exactly — no retiming gate
    gif_out = multimodal.transcode_videos(df, target="gif").collect()[0]
    _, _, _, out = multimodal.decode_gif_frames(bytes(gif_out.payload))
    assert [d for d, _ in out] == [7, 11]


def test_resample_audio_floor_semantics_and_tail(spark):
    """Decimation floor-averages each window — FLOOR, not truncation,
    on negative sums — and the short tail window averages what it has."""
    samples = [-100, -101, -102, 7, 8]  # factor 3: floor(-303/3), floor(15/2)
    wav = multimodal.make_wav_pcm16(samples, 8000)
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    feats = multimodal.decode_features(df, dim=5, decode="strict")
    out = {r.i: r for r in multimodal.resample_audio(feats, factor=3).collect()}
    assert (out[0].sample, out[0].n_in) == (-101, 3)
    assert (out[1].sample, out[1].n_in) == (7, 2)  # floor(15/2) = 7
    neg = multimodal.make_wav_pcm16([-1, -2], 8000)
    df2 = spark.createDataFrame([(1, bytearray(neg))], "doc_id long, payload binary")
    out2 = multimodal.resample_audio(
        multimodal.decode_features(df2, dim=2, decode="strict"), factor=2
    ).collect()[0]
    assert out2.sample == -2  # floor(-3/2) = -2, truncation would give -1


def test_detect_silence_windows_and_threshold(spark):
    """Quiet and loud constant blocks segment into exact integer window
    energies; the int16 extremes don't overflow the int64 fold."""
    quiet, loud = 100, 32767
    samples = [quiet] * 4 + [loud] * 4
    wav = multimodal.make_wav_pcm16(samples, 8000)
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    feats = multimodal.decode_features(df, dim=8, decode="strict")
    out = {
        r.win: r
        for r in multimodal.detect_silence(
            feats, window=4, threshold=4 * 1000 * 1000
        ).collect()
    }
    assert out[0].energy == 4 * quiet * quiet and out[0].is_silent is True
    assert out[1].energy == 4 * loud * loud and out[1].is_silent is False
    assert out[0].n_samples == out[1].n_samples == 4


def test_audio_fingerprints_volume_invariant_content_sensitive(spark):
    """The energy-delta fingerprint is invariant to uniform volume
    scaling (same audio re-encoded at half/quarter volume → same
    fingerprint) but flips when the energy CONTOUR changes — and the
    packed bits are exactly the planted up/down pattern."""
    ups = [2000, 2008, 2000, 2008, 2016]     # bits 1,0,1,1 -> 0b1101 = 13
    down = [2000, 1992, 2000, 2008, 2016]    # bits 0,1,1,1 -> 0b1110 = 14
    rows = []
    for i, (pattern, scale) in enumerate(
        [(ups, 1), (ups, 2), (ups, 4), (down, 1)]
    ):
        samples = [v for e in pattern for v in (e // scale, 0, 0, 0)]
        wav = multimodal.make_wav_pcm16(samples, 8000)
        rows.append((i, bytearray(wav)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    feats = multimodal.decode_features(df, dim=20, decode="strict")
    out = {
        r.doc_id: (r.fingerprint, r.n_windows)
        for r in multimodal.audio_fingerprints(feats, window=4).collect()
    }
    assert out[0] == (13, 5)
    assert out[1] == out[2] == out[0]  # half + quarter volume: same print
    assert out[3] == (14, 5)           # different contour: different print


def test_audio_fingerprints_no_alias_past_64_windows(spark):
    """ADVICE r8: JVM long shifts are mod 64, so a naive pack would alias
    window 65 onto window 1 and merge unrelated long clips in dedup.
    Adversarial pair: doc A has bit(win1)=1/bit(win65)=0, doc B the
    reverse, all other bits equal — under the wrapped-shift pack their
    fingerprints collide EXACTLY; the xxhash64 overflow fold keeps them
    distinct. Volume invariance must survive the overflow path too."""
    # window=1: each sample is one window, energy = |sample|; bit(w) is
    # the sign of energy[w]-energy[w-1]. 70 windows => wins 65..69 fold.
    up, down = 2, -2  # even steps so a half-volume copy stays integral
    base = 1000

    def energies(bits):  # bits[w] for w=1..69
        e = [base]
        for b in bits:
            e.append(e[-1] + (up if b else down))
        return e

    bits_a = [1] * 69
    bits_a[64] = 0          # win65 down  (bits_a[w-1] is win w's bit)
    bits_b = [1] * 69
    bits_b[0] = 0           # win1 down
    rows = [
        (0, [v / 32768.0 for v in energies(bits_a)]),
        (1, [v / 32768.0 for v in energies(bits_b)]),
        (2, [v / 2 / 32768.0 for v in energies(bits_a)]),  # A half volume
    ]
    feats = spark.createDataFrame(rows, "doc_id long, features array<float>")
    out = {
        r.doc_id: (r.fingerprint, r.n_windows)
        for r in multimodal.audio_fingerprints(feats, window=1).collect()
    }
    assert out[0][1] == out[1][1] == 70
    assert out[0][0] != out[1][0]   # the wrapped-shift pack collides here
    assert out[2] == out[0]         # volume invariance incl. folded wins


def test_audio_fingerprints_64_window_clip_unchanged_by_fold(spark):
    """Clips of ≤ 65 windows keep their exact pre-fix fingerprints (the
    overflow fold contributes 0): pin the full-64-bit positional pack,
    including bit 63 (win 64) landing on the long's sign bit."""
    # 65 windows: win 0 pinned 0, wins 1..64 all up => bits 0..63 all set
    e = [1000 + 2 * i for i in range(65)]
    feats = spark.createDataFrame(
        [(0, [v / 32768.0 for v in e])], "doc_id long, features array<float>"
    )
    row = multimodal.audio_fingerprints(feats, window=1).collect()[0]
    assert row.n_windows == 65
    assert row.fingerprint == -1  # all 64 bits set


def test_audio_fingerprints_single_window_clip_survives(spark):
    """A clip shorter than two windows has no deltas to sign — it must
    still appear in the output as (fingerprint=0, n_windows=1), not
    silently vanish (dedup over a mixed-length corpus would otherwise
    drop every short clip from consideration)."""
    wav = multimodal.make_wav_pcm16([100, 200, 300, 400], 8000)
    df = spark.createDataFrame([(7, bytearray(wav))], "doc_id long, payload binary")
    feats = multimodal.decode_features(df, dim=4, decode="strict")
    out = multimodal.audio_fingerprints(feats, window=4).collect()
    assert [(r.doc_id, r.fingerprint, r.n_windows) for r in out] == [(7, 0, 1)]


def test_video_fingerprints_exactness_and_frame_order(spark):
    """Identical videos share a fingerprint; swapping two frames (same
    pixel MULTISET, different order) must change it."""
    A = [(10, 10, 10)] * 4
    B = [(20, 20, 20)] * 4
    rows = [
        (0, bytearray(multimodal.make_gif_animated(2, 2, [A, B]))),
        (1, bytearray(multimodal.make_gif_animated(2, 2, [A, B]))),
        (2, bytearray(multimodal.make_gif_animated(2, 2, [B, A]))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    sigs = {
        r.doc_id: r.video_sig
        for r in multimodal.video_fingerprints(
            multimodal.sample_video_frames(df, every=1, dim=4)
        ).collect()
    }
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]


def test_video_fingerprints_rgb_mode_is_color_exact(spark):
    """Gray-mode fingerprints are hue-blind (pure red == pure green at
    equal luminance-by-mean); rgb mode distinguishes them — the
    color-exact dedup path."""
    red = [(90, 0, 0)] * 4
    green = [(0, 90, 0)] * 4
    rows = [
        (0, bytearray(multimodal.make_gif_animated(2, 2, [red]))),
        (1, bytearray(multimodal.make_gif_animated(2, 2, [green]))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    gray = {
        r.doc_id: r.video_sig
        for r in multimodal.video_fingerprints(
            multimodal.sample_video_frames(df, dim=4)
        ).collect()
    }
    assert gray[0] == gray[1]  # the documented hue-blind collision
    rgb = {
        r.doc_id: r.video_sig
        for r in multimodal.video_fingerprints(
            multimodal.sample_video_frames(df, dim=12, mode="rgb")
        ).collect()
    }
    assert rgb[0] != rgb[1]  # color-exact mode separates them
    with pytest.raises(ValueError, match="mode"):
        multimodal.sample_video_frames(df, mode="hsv")


def test_detect_scene_cuts(spark):
    """Planted cut at frame 2: dist is NULL at frame 0, 0 within a scene,
    the exact integer L1 at the boundary; the fold is pure Catalyst (the
    post-decode plan contains no Python eval node)."""
    a, b = [(10, 10, 10)] * 4, [(30, 30, 30)] * 4  # 2x2 frames
    data = multimodal.make_gif_animated(2, 2, [a, a, b, b])
    df = spark.createDataFrame([(7, bytearray(data))], "doc_id long, payload binary")
    sampled = multimodal.sample_video_frames(df, every=1, dim=4)
    out = multimodal.detect_scene_cuts(sampled, threshold=1)
    rows = {r.frame_index: r for r in out.collect()}
    assert rows[0].dist is None and rows[0].is_cut is None
    assert rows[1].dist == 0 and rows[1].is_cut is False
    assert rows[2].dist == 80 and rows[2].is_cut is True  # 4 px * |30-10|
    assert rows[3].dist == 0
    # the distance fold itself must not add Python stages: exactly one
    # Python eval node in the whole plan (the decode mapInPandas)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints the tree twice
    import re as _re

    assert len(_re.findall(r"(?i)ArrowEvalPython|BatchEvalPython|MapInPandas", plan)) == 1


# ---------------------------------------------------------------------------
# Y4M (YUV4MPEG2): raw-plane video container; gray is lossless through
# BT.601, color carries only the +-1 integer-rounding wobble.
# ---------------------------------------------------------------------------

def test_y4m_gray_roundtrip_exact_and_color_bounded():
    import random

    rng = random.Random(13)
    w, h = 5, 4
    gray = [
        [(v, v, v) for v in [rng.randrange(256) for _ in range(w * h)]]
        for _ in range(3)
    ]
    hh, ww, rate, out = multimodal.decode_y4m(
        multimodal.make_y4m(gray, w, h, rate=(30, 1))
    )
    assert (hh, ww, rate) == (h, w, (30, 1)) and out == gray
    color = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(w * h)]
    ]
    dec = multimodal.decode_y4m(multimodal.make_y4m(color, w, h))[3][0]
    assert max(
        abs(a - b) for p, q in zip(dec, color[0]) for a, b in zip(p, q)
    ) <= 2


def test_y4m_byte_literal_fixture():
    """Hand-assembled Y4M (independent of our encoder): C444 header, one
    2x1 frame with Y=[10, 200], Cb=Cr=128 — must decode to exactly those
    gray pixels and the declared rational rate."""
    data = (
        b"YUV4MPEG2 W2 H1 F30000:1001 Ip A1:1 C444\n"
        + b"FRAME\n"
        + bytes([10, 200])       # Y plane
        + bytes([128, 128]) * 2  # Cb, Cr planes
    )
    assert multimodal.decode_y4m(data) == (
        1, 2, (30000, 1001), [[(10, 10, 10), (200, 200, 200)]]
    )


def test_y4m_rejects_malformed_and_subsampled():
    with pytest.raises(ValueError, match="signature"):
        multimodal.decode_y4m(b"YUV4MPEG1 W1 H1 F1:1\nFRAME\n\x00\x80\x80")
    with pytest.raises(NotImplementedError, match="C444"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 F25:1\n")  # spec-default C420
    with pytest.raises(ValueError, match="missing"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 C444\n")
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H1 F1:1 C444\nFRAME\n\x00\x80")
    with pytest.raises(ValueError, match="cap"):
        multimodal.decode_y4m(b"YUV4MPEG2 W99999 H99999 F1:1 C444\n")


def test_transcode_videos_mixed_lake_gray_lossless(spark):
    """A mixed GIF/Y4M video lake normalizes to either target losslessly
    for gray content, with frame timing surviving the rate mapping."""
    frames = [[(v, v, v) for v in (10, 20, 30, 40)] for _ in range(2)]
    frames[1] = [(v, v, v) for v in (50, 60, 70, 80)]
    gif = multimodal.make_gif_animated(2, 2, frames, delays_cs=[4, 4])
    y4m = multimodal.make_y4m(frames, 2, 2, rate=(25, 1))
    df = spark.createDataFrame(
        [(0, bytearray(gif)), (1, bytearray(y4m))], "doc_id long, payload binary"
    )
    for target, magic in (("y4m", b"YUV4MPEG2"), ("gif", b"GIF89a")):
        got = {r.doc_id: r for r in multimodal.transcode_videos(df, target=target).collect()}
        for i in (0, 1):
            r = got[i]
            assert bytes(r.payload)[: len(magic)] == magic
            assert (r.n_frames, r.height, r.width) == (2, 2, 2)
        # decoded frames identical to the source frames, both targets
        dec = (
            multimodal.decode_y4m(bytes(got[0].payload))[3]
            if target == "y4m"
            else [px for _, px in multimodal.decode_gif_frames(bytes(got[0].payload))[3]]
        )
        assert dec == frames
    with pytest.raises(Exception):  # unknown container is loud (wrapped by Spark)
        multimodal.transcode_videos(
            spark.createDataFrame([(9, bytearray(b"RIFF----"))], "doc_id long, payload binary")
        ).collect()


# ---------------------------------------------------------------------------
# IMA ADPCM (compressed audio in WAV, format tag 0x0011): lossy codec with
# fully deterministic integer DSP — constant-per-block signals are EXACT.
# ---------------------------------------------------------------------------

def test_adpcm_byte_literal_fixture():
    """Hand-assembled one-block IMA-ADPCM WAV (independent of our encoder):
    header predictor 0 / step index 0, nibbles [3, 8, F, 0] hand-decoded
    against the step/index tables: step 7 → diffs +4, -0, -11, then step 16
    (index 0-1-1+8=8... clamped path) → +2. fact=5 truncates the pad."""
    import struct as _st

    blk = _st.pack("<hBB", 0, 0, 0) + bytes([0x83, 0x0F])
    fmt = _st.pack("<HHIIHHHH", 0x11, 1, 8000, 8000, 6, 4, 2, 5)
    data = (
        b"RIFF" + _st.pack("<I", 4 + 8 + len(fmt) + 8 + 4 + 8 + len(blk)) + b"WAVE"
        + b"fmt " + _st.pack("<I", len(fmt)) + fmt
        + b"fact" + _st.pack("<I", 4) + _st.pack("<I", 5)
        + b"data" + _st.pack("<I", len(blk)) + blk
    )
    assert multimodal.decode_wav_adpcm(data) == (1, 8000, [0, 4, 4, -7, -5])


def test_adpcm_constant_blocks_roundtrip_exactly():
    """Per-block-constant signals with init_index=0 reconstruct EXACTLY
    (block header stores sample 0 verbatim; nibble 0 at step 7 is diff 0)
    — the invariant mm_adpcm_decode's value hash rides on, including the
    int16 extremes."""
    samples = [1000] * 9 + [-5000] * 9 + [32000] * 9 + [-32768] * 9 + [32767] * 9
    enc = multimodal.make_wav_adpcm(samples, 8000, block_align=8)
    assert multimodal.decode_wav_adpcm(enc) == (1, 8000, samples)


def test_adpcm_tracks_smooth_signals_and_is_deterministic():
    """Lossy path sanity: a 12k-amplitude sine is tracked within ~1.5% of
    full scale once the step size has adapted, the sample count survives
    the fact chunk exactly, and decode∘encode is deterministic."""
    import math

    sine = [int(12000 * math.sin(i / 10)) for i in range(500)]
    enc = multimodal.make_wav_adpcm(sine)
    got = multimodal.decode_wav_adpcm(enc)
    assert got == multimodal.decode_wav_adpcm(multimodal.make_wav_adpcm(sine))
    assert len(got[2]) == 500
    post_warmup = [abs(a - b) for a, b in zip(got[2][100:], sine[100:])]
    assert max(post_warmup) < 500


def test_adpcm_rejects_malformed_streams():
    with pytest.raises(ValueError, match="RIFF"):
        multimodal.decode_wav_adpcm(b"RIFX" + b"\x00" * 40)
    with pytest.raises(ValueError, match="at least one sample"):
        multimodal.make_wav_adpcm([])
    with pytest.raises(ValueError, match="init_index"):
        multimodal.make_wav_adpcm([0], init_index=89)
    good = multimodal.make_wav_adpcm([100] * 20, block_align=8)
    # inconsistent samples-per-block in fmt must be loud
    bad = bytearray(good)
    at = good.index(b"fmt ") + 8 + 18  # spb field offset inside fmt body
    bad[at : at + 2] = b"\x63\x00"
    with pytest.raises(ValueError, match="blocking"):
        multimodal.decode_wav_adpcm(bytes(bad))
    # fact claiming more samples than blocks carry must be loud
    bad2 = bytearray(good)
    at2 = good.index(b"fact") + 8
    bad2[at2 : at2 + 4] = (10_000).to_bytes(4, "little")
    with pytest.raises(ValueError, match="fact"):
        multimodal.decode_wav_adpcm(bytes(bad2))


def test_strict_decode_adpcm_via_spark(spark):
    """decode_features(strict) dispatches RIFF payloads on the WAV format
    tag: PCM and ADPCM coexist in one lake, one decode stage."""
    samples = [v for c in b"ok" for v in [(c - 128) * 256] * 9]
    adpcm = multimodal.make_wav_adpcm(samples, 8000, block_align=8)
    pcm = multimodal.make_wav_pcm16([(c - 128) * 256 for c in b"ok"], 8000)
    df = spark.createDataFrame(
        [(1, bytearray(adpcm)), (2, bytearray(pcm))], "doc_id long, payload binary"
    )
    rows = {r.doc_id: r for r in multimodal.decode_features(df, dim=2, decode="strict").collect()}
    for i in (1, 2):
        assert (rows[i].media_type, rows[i].height, rows[i].width) == ("audio/wav", 1, 8000)
        want = [(c - 128) * 256 / 32768.0 for c in b"ok"]
        assert rows[i].features == pytest.approx(want, abs=1e-6)


from struct import error as struct_error


def test_codec_fuzz_corruption_always_terminates():
    """Seeded fuzz over all strict codecs: byte flips, truncations and
    zeroed length fields on valid files must TERMINATE promptly with a
    sane exception (or, for formats without full integrity checks, a
    decoded result) — never hang or corrupt the interpreter. 600 mutations
    across 8 decoders (GIF still AND animated, WAV-ADPCM, Y4M, and the
    MP3 container walker)."""
    import random

    rng = random.Random(20240814)
    px = [rng.randrange(256) for _ in range(16 * 16)]
    pxc = [(v, v, v) for v in px]
    samples = [(v - 128) * 256 for v in px[:64]]
    fixtures = [
        (multimodal.make_jpeg_baseline(px, 16, 16), multimodal.decode_jpeg_baseline),
        (multimodal.make_jpeg_progressive(px, 16, 16), multimodal.decode_jpeg_baseline),
        (multimodal.make_gif(pxc, 16, 16), multimodal.decode_gif),
        (multimodal.make_flac(samples, 8000, 1), multimodal.decode_flac),
        (multimodal.make_wav_adpcm(samples, 8000), multimodal.decode_wav_adpcm),
        (multimodal.make_y4m([pxc[:64]] * 2, 8, 8), multimodal.decode_y4m),
        (multimodal.make_png_rgb8(pxc, 16, 16), None),  # via decode_features path
        (
            multimodal.make_gif_animated(
                8,
                8,
                [pxc[:64], (2, 2, 4, 4, pxc[64:80])],
                delays_cs=[5, 5],
                transparent=(1, 2, 3),
            ),
            multimodal.decode_gif_frames,
        ),
        (
            multimodal.make_mp3_frames(
                [(128, 44100, 0), (64, 48000, 1), (320, 32000, 0)], id3v1=True
            ),
            lambda b: multimodal._mp3_walker()(b),
        ),
    ]
    for blob, decoder in fixtures:
        if decoder is None:
            continue
        for _ in range(75):
            bad = bytearray(blob)
            op = rng.randrange(3)
            if op == 0:  # flip a byte
                bad[rng.randrange(len(bad))] ^= 1 << rng.randrange(8)
            elif op == 1:  # truncate
                bad = bad[: rng.randrange(4, len(bad))]
            else:  # zero a random 2-byte window (kills length fields)
                at = rng.randrange(len(bad) - 2)
                bad[at : at + 2] = b"\x00\x00"
            try:
                decoder(bytes(bad))
            except (ValueError, NotImplementedError, IndexError, KeyError,
                    ZeroDivisionError, OverflowError, struct_error):
                pass


def test_transcode_mixed_lake_lossless_composition(spark):
    """transcode_images normalizes a mixed BMP/PNG/GIF/JPEG lake and is
    LOSSLESS end to end for lossless sources: mixed → png → gif →
    decode_gif returns the exact original pixels (JPEG sources carry
    their decoded constant-block pixels exactly too)."""
    import random

    rng = random.Random(9)
    rows, want = [], {}
    for i in range(12):
        px = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(6)
        ]
        if i % 4 == 0:
            blob = multimodal.make_bmp_24(px, 3, 2)
        elif i % 4 == 1:
            blob = multimodal.make_png_rgb8(px, 3, 2)
        elif i % 4 == 2:
            blob = multimodal.make_gif(px, 3, 2)
        else:
            v = rng.randrange(256)
            blob = multimodal.make_jpeg_baseline(
                [v] * 256, 16, 16, quant=[8] + [16] * 63
            )
            px = [(v, v, v)] * 256
        rows.append((i, bytearray(blob)))
        want[i] = px
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    png_df = multimodal.transcode_images(df, target="png")
    got_meta = {(r.doc_id, r.media_type) for r in png_df.collect()}
    assert all(m == "image/png" for _i, m in got_meta)
    gif_rows = multimodal.transcode_images(
        png_df.select("doc_id", "payload"), target="gif"
    ).collect()
    for r in gif_rows:
        assert multimodal.decode_gif(bytes(r.payload))[3] == want[r.doc_id], r.doc_id


def test_transcode_rejects_audio_and_unknown(spark):
    import pytest as _pytest

    wav = multimodal.make_wav_pcm16([0, 1, 2])
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="BMP/PNG/JPEG/GIF"):
        multimodal.transcode_images(df).collect()
    with _pytest.raises(ValueError, match="target"):
        multimodal.transcode_images(df, target="webp")


def test_sniff_recognizes_bmp(spark):
    df = spark.createDataFrame(
        [(bytearray(_hand_bmp()),), (bytearray(b"BX not a bmp"),)],
        "payload: binary",
    )
    got = [r.t for r in df.select(
        multimodal.sniff_media_type("payload").alias("t")).collect()]
    assert got == ["image/bmp", "application/octet-stream"]
