"""Multimodal plumbing tests: binary payload stats, Arrow-batched decode
stub, frame-sampling fan-out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poc_spark.operators.multimodal import (
    _fanout_tasks,
    decode_media,
    frame_sample_plan,
    payload_stats,
)
from poc_spark.plans.dispatch import NO_STATS_BYTES, estimated_size_bytes


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, "image", b"\x89PNG fake bytes here", {"src": "a"}),
        (1, "video", b"\x00\x00ftypmp42 fake video payload bytes", {"src": "b"}),
        (2, "audio", b"RIFF fake wav", {"src": "c"}),
        (3, "image", b"", {"src": "d"}),
    ]
    return spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta map<string,string>"
    )


def test_fanout_no_stats_plan_gets_core_count(spark):
    """A local-rows plan has no stats: Catalyst reports the Long.MaxValue
    sentinel. That is an unknown size, so the synth lanes fan out to
    the core count, not to the 4096-task cap."""
    tiny = spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string")
    assert estimated_size_bytes(tiny) >= NO_STATS_BYTES
    cores = spark.sparkContext.defaultParallelism
    assert _fanout_tasks(tiny, None) == cores
    assert _fanout_tasks(tiny, 7) == 7  # an explicit width still wins


def test_payload_stats(spark, media):
    got = {r["media_id"]: r for r in payload_stats(media).collect()}
    assert got[0]["n_bytes"] == 20
    assert got[3]["n_bytes"] == 0
    assert len(got[0]["sha256"]) == 64
    assert got[0]["sha256"] != got[1]["sha256"]


def test_decode_stub_raises_without_codecs(spark, media):
    with pytest.raises(Exception, match="NotImplementedError|codecs not available"):
        decode_media(media, fake=False).collect()


def test_fake_decode_schema_and_determinism(spark, media):
    out = decode_media(media, fake=True)
    assert out.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,width:int,height:int,"
        "n_frames:int,feature:array<float>>"
    )
    rows1 = {r["media_id"]: r for r in out.collect()}
    rows2 = {r["media_id"]: r for r in decode_media(media, fake=True).collect()}
    assert rows1.keys() == rows2.keys()
    for k in rows1:
        assert rows1[k]["feature"] == rows2[k]["feature"]  # deterministic
        assert len(rows1[k]["feature"]) == 8
    assert rows1[0]["n_frames"] == 1          # image
    assert rows1[1]["n_frames"] > 1           # video


def test_ppm_synthesize_decode_roundtrip(spark, sf_dir):
    """decode_ppm must recover exactly the dimensions / frame counts /
    pixel block the synthesizer encoded — parsed from the BYTES, not
    carried through columns."""
    import hashlib

    from poc_spark.operators.multimodal import decode_ppm, synthesize_ppm_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    media = synthesize_ppm_media(docs)
    got = {r["media_id"]: r for r in decode_ppm(media).collect()}
    raw = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for r in docs.select("doc_id").collect():
        did = r["doc_id"]
        w, h = 4 + did % 13, 3 + did % 7
        row = got[did]
        assert (row["width"], row["height"]) == (w, h)
        assert row["n_frames"] == (1 + did % 30 if did % 3 == 1 else 1)
        assert row["n_pixel_bytes"] == w * h * 3
        # checksum matches an independent parse of the payload tail
        assert row["pixel_sha"] == hashlib.sha256(
            raw[did][-(w * h * 3):]
        ).hexdigest()


def test_ppm_decoder_handles_malformed_payloads(spark):
    from poc_spark.operators.multimodal import decode_ppm

    rows = [
        (0, "image", b"P6\n4 3\n255\n" + b"x" * 36),        # valid
        (1, "image", b"P5\n4 3\n255\n" + b"x" * 12),        # wrong magic
        (2, "image", b"P6\n4"),                             # truncated header
        (3, "image", b""),                                  # empty
        (4, "video", b"P6\n# frames=7\n2 2\n255\n" + b"y" * 12),  # comment
        (5, "image", b"P6\n# just a comment\n2 2\n255\n" + b"z" * 12),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    got = {r["media_id"]: r for r in decode_ppm(df).collect()}
    assert (got[0]["width"], got[0]["height"], got[0]["n_frames"]) == (4, 3, 1)
    assert got[1]["width"] is None and got[2]["width"] is None
    assert got[3]["width"] is None
    assert (got[4]["width"], got[4]["n_frames"]) == (2, 7)   # frames comment
    assert (got[5]["width"], got[5]["n_frames"]) == (2, 1)   # plain comment
    assert got[5]["pixel_sha"] is not None


def test_frame_sample_plan(spark, media):
    decoded = decode_media(media, fake=True)
    plan = frame_sample_plan(decoded, every_n=10)
    rows = plan.collect()
    assert all(r["frame_idx"] % 10 == 0 for r in rows)
    vid = decoded.filter("kind = 'video'").collect()[0]
    expect = len(range(0, vid["n_frames"], 10))
    assert len([r for r in rows if r["media_id"] == 1]) == expect


def test_resize_ppm_kernel(spark):
    import hashlib

    import numpy as np

    from poc_spark.operators.multimodal import resize_ppm

    # 2x2 RGB image with distinct pixels; 1x1 nearest-neighbor resize
    # must pick the top-left pixel exactly
    px = bytes([10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42])
    payload = b"P6\n2 2\n255\n" + px
    df = spark.createDataFrame(
        [(1, "image", bytearray(payload))],
        "media_id long, kind string, payload binary",
    )
    row = resize_ppm(df, out_w=1, out_h=1).collect()[0]
    assert (row["width"], row["height"]) == (2, 2)
    assert row["resized_sha"] == hashlib.sha256(bytes([10, 11, 12])).hexdigest()

    # 4x2 -> 2x2: rows map to {0,1}, cols to {0,2}
    arr = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    payload2 = b"P6\n4 2\n255\n" + arr.tobytes()
    df2 = spark.createDataFrame(
        [(2, "image", bytearray(payload2))],
        "media_id long, kind string, payload binary",
    )
    row2 = resize_ppm(df2, out_w=2, out_h=2).collect()[0]
    expect = arr[[0, 1]][:, [0, 2], :]
    assert row2["resized_sha"] == hashlib.sha256(expect.tobytes()).hexdigest()

    # malformed payload degrades to nulls, never fails the job
    bad = spark.createDataFrame(
        [(3, "image", bytearray(b"NOTPPM"))],
        "media_id long, kind string, payload binary",
    )
    row3 = resize_ppm(bad).collect()[0]
    assert row3["resized_sha"] is None


def test_wav_synthesize_parse_roundtrip(spark, sf_dir):
    """The synthesized payload is a REAL WAV: the RIFF walker recovers
    rate/data, stdlib `wave` would agree on layout, and the frame grid
    matches n_samples // 160 with 160-sample hops."""
    from poc_spark.operators.multimodal import (
        audio_frame_energy,
        synthesize_wav_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = synthesize_wav_media(docs)
    out = audio_frame_energy(media).collect()
    assert out
    by_media = {}
    for r in out:
        assert r["sample_rate"] == 8000
        assert 800 <= r["n_samples"] < 1200
        assert 0.0 <= r["rms"] <= 128.0
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    for mid, frames in by_media.items():
        n_samples = next(r["n_samples"] for r in out if r["media_id"] == mid)
        assert sorted(frames) == list(range(n_samples // 160))


def test_wav_parser_against_stdlib_wave(spark, sf_dir):
    """Cross-check the hand-rolled RIFF walker against python's stdlib
    wave module on the same synthesized bytes."""
    import io
    import wave

    from poc_spark.operators.multimodal import (
        _parse_wav,
        synthesize_wav_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    for r in synthesize_wav_media(docs).collect():
        buf = bytes(r["payload"])
        rate, data = _parse_wav(buf)
        w = wave.open(io.BytesIO(buf))
        assert w.getframerate() == rate == 8000
        assert w.getnchannels() == 1 and w.getsampwidth() == 1
        assert w.readframes(w.getnframes()) == data


def test_wav_parser_chunk_order_and_malformed(spark):
    """Real-container robustness: unknown chunks skipped, odd sizes
    word-aligned, data-before-fmt accepted; malformed inputs emit no
    rows instead of failing the job."""
    import struct

    from poc_spark.operators.multimodal import _parse_wav, audio_frame_energy

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    fmt = chunk(
        b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    )
    data = chunk(b"data", bytes(range(160)) * 2)
    junk = chunk(b"LIST", b"junk!")  # odd body: exercises alignment
    for order in ([fmt, junk, data], [junk, data, fmt]):
        body = b"WAVE" + b"".join(order)
        buf = b"RIFF" + struct.pack("<I", len(body)) + body
        rate, d = _parse_wav(buf)
        assert rate == 8000 and len(d) == 320
    assert _parse_wav(b"RIFX junk") == (None, None)
    assert _parse_wav(b"") == (None, None)

    bad = spark.createDataFrame(
        [(1, bytearray(b"not a wav")), (2, bytearray(b""))],
        "media_id long, payload binary",
    )
    assert audio_frame_energy(bad).count() == 0


def test_wav_rms_ground_truth(spark):
    """Hand-built constant-amplitude WAV: rms must equal the amplitude
    exactly (sqrt of a perfect square)."""
    import struct

    from poc_spark.operators.multimodal import audio_frame_energy

    samples = bytes([128 + 50] * 320)  # two frames, amp = 50 everywhere
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 8000, 1, 8
    )
    data = b"data" + struct.pack("<I", len(samples)) + samples
    body = b"WAVE" + fmt + data
    buf = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame(
        [(7, bytearray(buf))], "media_id long, payload binary"
    )
    rows = audio_frame_energy(df).collect()
    assert [(r["frame_idx"], r["rms"]) for r in sorted(
        rows, key=lambda r: r["frame_idx"]
    )] == [(0, 50.0), (1, 50.0)]


def test_wav_synth_word_alignment(spark, sf_dir):
    """Odd n_samples payloads carry the RIFF pad byte (r5 ADVICE): the
    container byte length is always even, the RIFF size field counts
    the pad, the data size field doesn't — and strict consumers
    (stdlib wave included) agree on the sample count."""
    import io
    import struct
    import wave

    from poc_spark.operators.multimodal import synthesize_wav_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    rows = synthesize_wav_media(docs).collect()
    saw_odd = False
    for r in rows:
        buf = bytes(r["payload"])
        n_samples = 800 + r["media_id"] % 400
        pad = n_samples % 2
        saw_odd = saw_odd or pad == 1
        assert len(buf) % 2 == 0
        assert len(buf) == 44 + n_samples + pad
        (riff_size,) = struct.unpack("<I", buf[4:8])
        assert riff_size == len(buf) - 8  # pad counted here
        (data_size,) = struct.unpack("<I", buf[40:44])
        assert data_size == n_samples     # but not here
        if pad:
            assert buf[-1] == 0
        assert wave.open(io.BytesIO(buf)).getnframes() == n_samples
    assert saw_odd  # the fixture must actually exercise the pad path


def test_wav_parser_truncated_containers(spark):
    """Truncated mid-header / mid-chunk / mid-data containers degrade
    to (None, None) or the readable prefix — never raise (r5 VERDICT
    optional hardening)."""
    import struct

    from poc_spark.operators.multimodal import _parse_wav

    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 8000, 1, 8
    )
    data = b"data" + struct.pack("<I", 320) + bytes(range(160)) * 2
    body = b"WAVE" + fmt + data
    full = b"RIFF" + struct.pack("<I", len(body)) + body
    # mid-RIFF-header, mid-fmt, header-only-data, mid-data
    for cut in (6, 20, len(full) - 325, len(full) - 100):
        out = _parse_wav(full[:cut])
        assert isinstance(out, tuple) and len(out) == 2
    # a chunk whose declared size overruns the buffer must not raise
    lying = b"RIFF" + struct.pack("<I", 100) + b"WAVE" + b"data" + struct.pack(
        "<I", 1 << 30
    ) + b"\x01\x02"
    out = _parse_wav(lying)
    assert isinstance(out, tuple)


# ---------------------------------------------------------------------------
# PNG: real synthesis + decode (zlib inflate + all five row filters)
# ---------------------------------------------------------------------------


def test_png_synthesize_decode_roundtrip(spark, sf_dir):
    """End-to-end over real documents: spec-valid PNGs synthesized per
    row, decoded back to exact dims + the content fingerprint derivable
    from the text md5; truncated (id%17==0) and NULL-text rows come
    back as all-null quarantine rows, never task failures."""
    import hashlib

    from poc_spark.operators.multimodal import decode_png, synthesize_png_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["media_id"]: r
           for r in decode_png(synthesize_png_media(docs)).collect()}
    assert set(got) == set(texts)
    for did, text in texts.items():
        r = got[did]
        if did % 17 == 0 or text is None:
            assert r["width"] is None and r["pixel_sha"] is None
            continue
        w, h = 4 + did % 13, 3 + did % 7
        hx = (hashlib.md5(text.encode()).hexdigest() * 41)[: w * h * 3 * 2]
        assert (r["width"], r["height"], r["bit_depth"], r["color_type"]) == (
            w, h, 8, 2)
        assert r["n_pixel_bytes"] == w * h * 3
        assert r["pixel_sha"] == hashlib.sha256(hx.encode()).hexdigest()


def test_png_defilter_hand_computed():
    """Independent ground truth for the five filters (PNG spec §6):
    a 2-wide × 5-high RGB image, one scanline per filter type, with the
    filtered bytes derived BY HAND from the spec equations — not by the
    encoder under test."""
    import struct
    import zlib

    from poc_spark.operators.multimodal import _PNG_SIG, _parse_png, _png_chunk

    # reconstructed target rows (2 px * 3 ch), chosen to exercise carries
    rows = [
        bytes([10, 20, 30, 40, 50, 60]),        # f0 None: raw == recon
        bytes([5, 6, 7, 250, 251, 252]),        # f1 Sub
        bytes([15, 26, 37, 255, 0, 1]),         # f2 Up
        bytes([100, 100, 100, 200, 200, 200]),  # f3 Average
        bytes([90, 110, 130, 180, 210, 240]),   # f4 Paeth
    ]
    # hand-derived filtered scanlines:
    # f1: x<3 -> raw; x>=3 -> raw - recon[x-3]: 250-5=245, 251-6=245, 252-7=245
    # f2: raw - prev: 15-5=10, 26-6=20, 37-7=30, 255-250=5, 0-251=5 (mod), 1-252=5
    # f3: x<3 -> raw - prev//2: 100-7=93, 100-13=87, 100-18=82 (floor(15/2)=7...)
    #     x>=3 -> raw - (left+prev)//2: 200-(100+255)//2=200-177=23,
    #             200-(100+0)//2=150, 200-(100+1)//2=150
    # f4: predictors p=a+b-c: x<3 -> a=c=0 -> pred=b(prev)=100 -> 90-100=-10=246
    #     110-100=10, 130-100=30; x>=3: a=recon[x-3](90,110,130), b=prev(200,..),
    #     c=prev[x-3](100,..): p=a+b-c -> pa=|b-c|, pb=|a-c|, pc=|a+b-2c|
    #     x=3: a=90,b=200,c=100: pa=100,pb=10,pc=90 -> pred=b=200 -> 180-200=236
    #     x=4: a=110,b=200,c=100: pa=100,pb=10,pc=110 -> pred=200 -> 210-200=10
    #     x=5: a=130,b=200,c=100: pa=100,pb=30,pc=130 -> pred=200 -> 240-200=40
    filtered = (
        bytes([0]) + rows[0]
        + bytes([1, 5, 6, 7, 245, 245, 245])
        + bytes([2, 10, 20, 30, 5, 5, 5])
        + bytes([3, 93, 87, 82, 23, 150, 150])
        + bytes([4, 246, 10, 30, 236, 10, 40])
    )
    ihdr = struct.pack(">IIBBBBB", 2, 5, 8, 2, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(filtered))
        + _png_chunk(b"IEND", b"")
    )
    w, h, depth, ct, nbytes, sha = _parse_png(png)
    assert (w, h, depth, ct, nbytes) == (2, 5, 8, 2, 30)
    import hashlib

    want = b"".join(rows)
    assert sha == hashlib.sha256(want.hex().encode()).hexdigest()


def test_png_grayscale_and_multi_idat():
    """color type 0 (bpp=1) defilters with the 1-byte stride, and IDAT
    may be split across chunks (spec: concatenate before inflate)."""
    import hashlib
    import struct
    import zlib

    from poc_spark.operators.multimodal import _PNG_SIG, _parse_png, _png_chunk

    rows = [bytes([1, 2, 3, 4]), bytes([5, 6, 7, 8])]
    filtered = bytes([0]) + rows[0] + bytes([2, 4, 4, 4, 4])  # Up row
    z = zlib.compress(filtered)
    ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 0, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", z[: len(z) // 2])
        + _png_chunk(b"IDAT", z[len(z) // 2 :])
        + _png_chunk(b"IEND", b"")
    )
    w, h, depth, ct, nbytes, sha = _parse_png(png)
    assert (w, h, depth, ct, nbytes) == (4, 2, 8, 0, 8)
    want = b"".join(rows)
    assert sha == hashlib.sha256(want.hex().encode()).hexdigest()


def test_png_decoder_malformed_quarantined():
    """Every corruption class returns the all-null row — never raises:
    bad signature, truncation anywhere, a flipped bit (CRC), a corrupt
    deflate stream, unsupported layouts, lying length fields."""
    import hashlib
    import struct
    import zlib

    from poc_spark.operators.multimodal import (
        _PNG_SIG,
        _parse_png,
        _png_chunk,
        _png_encode,
    )

    hx = (hashlib.md5(b"doc").hexdigest() * 41)[: 6 * 4 * 3 * 2]
    png = _png_encode(bytes.fromhex(hx), 6, 4, filt_seed=3)
    assert _parse_png(png)[0] == 6  # sanity: the base container decodes

    cases = [b"", b"\x89PNG", b"JUNK" + png[4:], png[:-1], png[: len(png) // 3]]
    flip = bytearray(png)
    flip[45] ^= 0x10
    cases.append(bytes(flip))
    # corrupt deflate body but FIX the chunk CRC so inflate itself fails
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    cases.append(
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"not deflate at all")
        + _png_chunk(b"IEND", b"")
    )
    # interlaced + 16-bit + palette layouts are declared unsupported
    for ihdr_bad in [
        struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1),
        struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0),
        struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0),
    ]:
        cases.append(
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr_bad)
            + _png_chunk(b"IDAT", zlib.compress(bytes(10)))
            + _png_chunk(b"IEND", b"")
        )
    # inflated size disagrees with IHDR dims
    cases.append(
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 9, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(12)))
        + _png_chunk(b"IEND", b"")
    )
    # length field larger than the remaining buffer
    lying = _PNG_SIG + struct.pack(">I", 1 << 20) + b"IHDR" + b"\x00" * 8
    cases.append(lying)
    for i, c in enumerate(cases):
        out = _parse_png(c)
        assert out == (None, None, None, None, None, None), (i, out)


def test_png_resize_ground_truth_and_quarantine():
    """resize_png's gather must equal the direct numpy resize of the
    known decoded pixels; corrupt payloads produce all-null rows."""
    import hashlib

    import numpy as np

    from poc_spark.operators.multimodal import _png_encode, resize_png

    did, w, h = 5, 4 + 5 % 13, 3 + 5 % 7  # 9 x 8
    hx = (hashlib.md5(b"doc five").hexdigest() * 41)[: w * h * 3 * 2]
    px = bytes.fromhex(hx)
    png = _png_encode(px, w, h, filt_seed=did)

    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
    rr = (np.arange(6) * h) // 6
    cc = (np.arange(8) * w) // 8
    want = hashlib.sha256(
        arr[rr][:, cc, :].tobytes().hex().encode()
    ).hexdigest()

    import pandas as pd

    pdf = pd.DataFrame({"media_id": [did, 99], "payload": [png, png[:-7]]})
    from poc_spark.session import get_spark

    spark = get_spark("test")
    df = spark.createDataFrame(pdf)
    got = {r["media_id"]: r for r in resize_png(df).collect()}
    assert (got[did]["width"], got[did]["height"]) == (w, h)
    assert got[did]["resized_sha"] == want
    assert got[99]["resized_sha"] is None and got[99]["width"] is None


def test_audio_autocorrelation_hand_values(spark):
    """Hand-computed autocorrelation on a 4-sample WAV: amps [0,1,2,3]
    give acorr(1) = 0·1+1·2+2·3 = 8 and acorr(2) = 0·2+1·3 = 3; a lag
    ≥ n emits no row; malformed payloads emit nothing."""
    import struct

    from poc_spark.operators.multimodal import audio_autocorrelation

    samples = bytes([128, 129, 130, 131])
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not a riff container"))],
        "media_id long, payload binary",
    )
    got = {
        (r["media_id"], r["lag"]): (r["acorr"], r["n_terms"])
        for r in audio_autocorrelation(df, lags=(1, 2, 4)).collect()
    }
    assert got == {(1, 1): (8, 3), (1, 2): (3, 2)}


def test_png_decoder_bomb_resistant():
    """Attacker-shaped payloads quarantine WITHOUT large allocations:
    a CRC-valid IHDR declaring gigapixel dims is rejected by the pixel
    bound before any buffer exists, and an IDAT that inflates far past
    the expected defiltered size hits the capped decompressobj, not a
    full zlib.decompress of the bomb."""
    import struct
    import zlib

    from poc_spark.operators.multimodal import (
        _PNG_SIG,
        _decode_png,
        _png_chunk,
    )

    def png(w, h, ctype, idat_body):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat_body)
            + _png_chunk(b"IEND", b"")
        )

    # gigapixel dims behind a valid CRC -> pixel-bound quarantine
    assert _decode_png(png(1 << 16, 1 << 16, 2, zlib.compress(b"\x00"))) is None
    # 2x2 grey expects 6 defiltered bytes; this IDAT inflates to 10 MB
    bomb = zlib.compress(b"\x00" * 10_000_000)
    assert _decode_png(png(2, 2, 0, bomb)) is None
    # exact-size stream still decodes (cap doesn't break valid images)
    ok = zlib.compress(b"\x00" + b"\x01\x02" + b"\x00" + b"\x03\x04")
    d = _decode_png(png(2, 2, 0, ok))
    assert d is not None and d[4] == b"\x01\x02\x03\x04"


def test_png_filter_roundtrip_property():
    """Property: encode(pixels, any filter mix) → decode recovers the
    exact pixel bytes, including degenerate geometries (1×1, 1×h, w×1)
    where the left/up filter neighbors don't exist. Pure-Python
    round-trip through real deflate — no Spark session needed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from poc_spark.operators.multimodal import _decode_png, _png_encode

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=9),
        h=st.integers(min_value=1, max_value=9),
        filt_seed=st.integers(min_value=0, max_value=10_000),
        data=st.data(),
    )
    def check(w, h, filt_seed, data):
        pixels = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * 3,
                    max_size=w * h * 3,
                )
            )
        )
        buf = _png_encode(pixels, w, h, filt_seed)
        d = _decode_png(buf)
        assert d is not None, (w, h, filt_seed)
        dw, dh, depth, ctype, recon = d
        assert (dw, dh, depth, ctype) == (w, h, 8, 2)
        assert recon == pixels

    check()


def test_png_encode_vectorized_matches_reference():
    """The numpy-vectorized forward filters must be byte-identical to a
    straightforward per-byte transcription of the PNG spec §6 (the
    pre-r14 implementation) — independent of our own decoder."""
    import random
    import struct
    import zlib

    from poc_spark.operators.multimodal import _png_encode, _png_paeth

    def reference(pixels, w, h, filt_seed):
        bpp, stride = 3, w * 3
        out = bytearray()
        prev = bytes(stride)
        for r in range(h):
            line = pixels[r * stride : (r + 1) * stride]
            ft = (filt_seed + r) % 5
            out.append(ft)
            if ft == 0:
                out += line
            elif ft == 1:
                out += bytes(
                    (line[x] - (line[x - bpp] if x >= bpp else 0)) & 0xFF
                    for x in range(stride)
                )
            elif ft == 2:
                out += bytes(
                    (line[x] - prev[x]) & 0xFF for x in range(stride)
                )
            elif ft == 3:
                out += bytes(
                    (
                        line[x]
                        - (
                            ((line[x - bpp] if x >= bpp else 0) + prev[x])
                            >> 1
                        )
                    )
                    & 0xFF
                    for x in range(stride)
                )
            else:
                out += bytes(
                    (
                        line[x]
                        - _png_paeth(
                            line[x - bpp] if x >= bpp else 0,
                            prev[x],
                            prev[x - bpp] if x >= bpp else 0,
                        )
                    )
                    & 0xFF
                    for x in range(stride)
                )
            prev = line
        return bytes(out)

    rnd = random.Random(99)
    for _ in range(8):
        w, h = rnd.randint(1, 23), rnd.randint(1, 19)
        px = bytes(rnd.randrange(256) for _ in range(w * h * 3))
        seed = rnd.randrange(10_000)
        got = _png_encode(px, w, h, seed)
        # extract the filtered stream back out of the IDAT chunk
        sig = 8 + 25  # signature + IHDR chunk (len+type+13+crc)
        ln = struct.unpack(">I", got[sig : sig + 4])[0]
        idat = got[sig + 8 : sig + 8 + ln]
        assert zlib.decompress(idat) == reference(px, w, h, seed)


def test_png_defilter_scan_matches_reference():
    """The r14-optimized Average/Paeth defilter rows (python-int list
    scans instead of per-element numpy indexing) must reconstruct
    byte-identically to a straightforward per-byte transcription of
    the PNG spec §6 reconstruction — on random pixels, every filter
    type, including the degenerate 1-px-wide raster."""
    import random

    from poc_spark.operators.multimodal import _png_defilter, _png_paeth

    def reference(data, w, h, bpp):
        stride = w * bpp
        recon = bytearray(stride * h)
        pos = 0
        for r in range(h):
            ft = data[pos]
            line = data[pos + 1 : pos + 1 + stride]
            pos += 1 + stride
            base = r * stride
            for x in range(stride):
                a = recon[base + x - bpp] if x >= bpp else 0
                b = recon[base - stride + x] if r else 0
                c = (
                    recon[base - stride + x - bpp]
                    if (r and x >= bpp)
                    else 0
                )
                if ft == 0:
                    v = line[x]
                elif ft == 1:
                    v = (line[x] + a) & 0xFF
                elif ft == 2:
                    v = (line[x] + b) & 0xFF
                elif ft == 3:
                    v = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    v = (line[x] + _png_paeth(a, b, c)) & 0xFF
                recon[base + x] = v
        return bytes(recon)

    rnd = random.Random(1414)
    for _ in range(10):
        w, h = rnd.randint(1, 23), rnd.randint(1, 19)
        stride = w * 3
        # random filtered stream: every row gets a random filter type
        data = b"".join(
            bytes([rnd.randrange(5)])
            + bytes(rnd.randrange(256) for _ in range(stride))
            for _ in range(h)
        )
        assert _png_defilter(data, w, h, 3) == reference(data, w, h, 3)
