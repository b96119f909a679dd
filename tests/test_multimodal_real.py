"""real_decoder: actual stdlib decode paths (WAV/PNG/BMP/PPM), driven
end-to-end through decode_media's mapInPandas plumbing.

Fixtures are synthesized in-memory by independent hand-rolled writers
(PNG chunks assembled by hand, including a gradient image encoded with
filter types 1/2/4), so a decoder bug can't cancel against a shared
encoder path — expected pixel means come straight from the numpy array
the encoder was built from.
"""

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.functions.multimodal import (
    FEATURE_SCHEMA,
    decode_media,
    image_pixels,
    real_decoder,
    resize_image,
)


def make_wav(rate=8000, freq=440.0, seconds=0.25, amp=0.5) -> bytes:
    n = int(rate * seconds)
    t = np.arange(n) / rate
    x = (amp * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def make_png(width, height, rgb) -> bytes:
    """Minimal 8-bit RGB PNG, filter type 0 on every scanline."""
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = bytes(rgb) * width
    raw = (b"\x00" + row) * height
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_png_gradient(width, height) -> bytes:
    """PNG whose rows use filters 1/2/4 so unfiltering is exercised."""
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    img = np.zeros((height, width, 3), dtype=np.uint8)
    for y in range(height):
        for x in range(width):
            img[y, x] = ((x * 7) % 256, (y * 11) % 256, (x + y) % 256)
    raw = bytearray()
    prev = np.zeros((width, 3), dtype=np.int16)
    for y in range(height):
        line = img[y].astype(np.int16)
        ftype = (1, 2, 4)[y % 3]
        flat = line.reshape(-1)
        pflat = prev.reshape(-1)
        out = bytearray()
        for i in range(len(flat)):
            a = flat[i - 3] if i >= 3 else 0
            b = pflat[i] if y > 0 else 0
            c = pflat[i - 3] if (y > 0 and i >= 3) else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            out.append((int(flat[i]) - int(pred)) & 0xFF)
        raw += bytes([ftype]) + bytes(out)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    ), img


def make_png_from_array(img: "np.ndarray") -> bytes:
    """8-bit RGB PNG from an (h, w, 3) array, filter 0 rows."""
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    h, w, _ = img.shape
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_bmp(width, height, rgb) -> bytes:
    stride = (width * 3 + 3) & ~3
    pad = stride - width * 3
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + stride * height, 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                    stride * height, 2835, 2835, 0, 0)
    row = bytes((rgb[2], rgb[1], rgb[0])) * width + b"\x00" * pad
    return header + row * height


def make_ppm(width, height, rgb) -> bytes:
    return (f"P6\n# test comment\n{width} {height}\n255\n".encode()
            + bytes(rgb) * (width * height))


def test_wav_decode_features():
    out = real_decoder(make_wav(rate=8000, seconds=0.25, amp=0.5), "audio")
    rate, nch, dur, rms, peak = out["features"]
    assert rate == 8000.0 and nch == 1.0
    assert dur == pytest.approx(0.25, abs=1e-6)
    # sine RMS = amp/sqrt(2)
    assert rms == pytest.approx(0.5 / np.sqrt(2), rel=1e-2)
    assert peak == pytest.approx(0.5, rel=1e-2)


def test_png_solid_decode():
    out = real_decoder(make_png(5, 4, (255, 0, 128)), "image")
    w, h, nch, r, g, b = out["features"]
    assert (w, h, nch) == (5.0, 4.0, 3.0)
    assert (r, g, b) == pytest.approx((1.0, 0.0, 128 / 255), abs=1e-9)


def test_png_filtered_gradient_roundtrips_exactly():
    content, img = make_png_gradient(16, 9)
    out = real_decoder(content, "image")
    w, h, nch, r, g, b = out["features"]
    assert (w, h, nch) == (16.0, 9.0, 3.0)
    want = img.reshape(-1, 3).mean(axis=0) / 255.0
    assert (r, g, b) == pytest.approx(tuple(want), abs=1e-12)


def test_bmp_and_ppm_agree_with_png():
    rgb = (10, 200, 60)
    png = real_decoder(make_png(6, 3, rgb), "image")["features"][3:]
    bmp = real_decoder(make_bmp(6, 3, rgb), "image")["features"][3:]
    ppm = real_decoder(make_ppm(6, 3, rgb), "image")["features"][3:]
    assert png == pytest.approx(bmp, abs=1e-12)
    assert png == pytest.approx(ppm, abs=1e-12)


def test_unknown_codec_raises_not_implemented():
    # MP4 ftyp box — no stdlib codec, documented boundary
    with pytest.raises(NotImplementedError, match="magic"):
        real_decoder(b"\x00\x00\x00\x18ftypisom....", "video")
    # JPEG is now a REAL decode path (functions/jpeg.py); a truncated
    # JPEG is a parse error, not an unimplemented codec
    with pytest.raises(ValueError, match="SOF"):
        real_decoder(b"\xff\xd8\xff\xe0JFIF....", "image")


def test_real_decoder_through_spark_map_in_pandas(spark):
    """End-to-end: binary media column → decode_media(real_decoder) →
    FEATURE_SCHEMA rows, with per-format features checked."""
    rows = [
        (1, "audio", make_wav()),
        (2, "image", make_png(5, 4, (255, 0, 128))),
        (3, "image", make_bmp(6, 3, (10, 200, 60))),
        (4, "image", make_ppm(6, 3, (10, 200, 60))),
    ]
    media = spark.createDataFrame(
        [(i, k, c, {"mime": "x", "n_bytes": len(c)}) for i, k, c in rows],
        "media_id long, kind string, content binary, "
        "meta struct<mime:string,n_bytes:long>",
    ).repartition(2)
    feats = {r.media_id: r for r in decode_media(media, decoder=real_decoder).collect()}
    assert set(feats) == {1, 2, 3, 4}
    assert feats[1].features[0] == 8000.0  # wav rate
    assert feats[2].features[:3] == [5.0, 4.0, 3.0]
    assert feats[3].features[3:] == pytest.approx(feats[4].features[3:], abs=1e-12)
    for i, _, c in rows:
        assert feats[i].checksum == zlib.crc32(c)
        assert feats[i].n_bytes == len(c)
    assert decode_media(media, decoder=real_decoder).schema == FEATURE_SCHEMA


def test_resize_nearest_neighbor_exact():
    # 4x4 gradient -> 2x2: nearest-neighbor picks src rows/cols 0 and 2
    import numpy as np

    from amazon_personalize_connectors_spark.functions.multimodal import (
        image_pixels,
        resize_image,
    )

    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    content = make_png_from_array(img)
    assert (image_pixels(content) == img).all()  # decode round-trip
    r = resize_image(content, 2, 2)
    got = np.frombuffer(r["pixels"], dtype=np.uint8).reshape(2, 2, 3)
    assert (got == img[[0, 2]][:, [0, 2]]).all()
    assert (r["width"], r["height"], r["nch"]) == (2, 2, 3)


def test_resize_upscale_repeats_pixels():
    import numpy as np

    from amazon_personalize_connectors_spark.functions.multimodal import (
        resize_image,
    )

    img = np.array([[[255, 0, 0], [0, 255, 0]]], dtype=np.uint8)  # 1x2
    r = resize_image(make_png_from_array(img), 4, 2)
    got = np.frombuffer(r["pixels"], dtype=np.uint8).reshape(2, 4, 3)
    # rows duplicate; cols map 0,0,1,1
    assert (got[0] == got[1]).all()
    assert (got[0, 0] == [255, 0, 0]).all() and (got[0, 1] == [255, 0, 0]).all()
    assert (got[0, 2] == [0, 255, 0]).all() and (got[0, 3] == [0, 255, 0]).all()


def test_resize_images_spark_skips_undecodable(spark):
    import numpy as np

    from amazon_personalize_connectors_spark.functions.multimodal import (
        resize_images,
    )

    img = np.zeros((3, 3, 3), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(make_png_from_array(img)),
         ("image/png", 0)),
        (2, "image", bytearray(b"\xff\xd8\xff\xe0 fake jpeg"),
         ("image/jpeg", 0)),
    ]
    from amazon_personalize_connectors_spark.functions.multimodal import (
        MEDIA_SCHEMA,
    )

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = resize_images(df, 2, 2).collect()
    assert [r["media_id"] for r in out] == [1]
    assert out[0]["nch"] == 3 and len(out[0]["pixels"]) == 2 * 2 * 3


def test_wav_frame_energy_exact_hand_values():
    from amazon_personalize_connectors_spark.functions.multimodal import (
        wav_frame_energy,
    )

    # 8-bit mono, 1000 Hz, 5 known samples; frame_ms=3 -> 3 samples/frame
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(1000)
        w.writeframes(bytes([128, 130, 126, 128, 255]))
    frames = wav_frame_energy(buf.getvalue(), frame_ms=3)
    # centered samples: 0, 2, -2, 0, 127
    assert frames == [
        {"frame_idx": 0, "n_samples": 3, "energy": 8},
        {"frame_idx": 1, "n_samples": 2, "energy": 127 * 127},
    ]


def test_wav_frame_energy_sums_to_total():
    import numpy as np

    from amazon_personalize_connectors_spark.functions.multimodal import (
        wav_frame_energy,
    )

    wav = make_wav(rate=8000, seconds=0.25, amp=0.5)
    frames = wav_frame_energy(wav, frame_ms=50)
    with wave.open(io.BytesIO(wav), "rb") as w:
        raw = w.readframes(w.getnframes())
    x = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    assert sum(f["energy"] for f in frames) == int(np.dot(x, x))
    assert sum(f["n_samples"] for f in frames) == x.size


def test_frame_energies_spark_roundtrip(spark):
    from pyspark.sql import functions as F

    from amazon_personalize_connectors_spark.functions.multimodal import (
        attach_synth_wav,
        frame_energies,
        wav_frame_energy,
    )

    ids = spark.createDataFrame([(20,), (40,)], "media_id long")
    media = attach_synth_wav(ids, "media_id")
    got = {
        (r["media_id"], r["frame_idx"]): (r["n_samples"], r["energy"])
        for r in frame_energies(media, frame_ms=16).collect()
    }
    # python-side reference through the same synthesizer
    want = {}
    for mid_row in media.collect():
        for fr in wav_frame_energy(bytes(mid_row["content"]), frame_ms=16):
            want[(mid_row["media_id"], fr["frame_idx"])] = (
                fr["n_samples"], fr["energy"]
            )
    assert got == want and len(got) >= 4


def test_image_ahash_identical_images_hash_equal(spark):
    from amazon_personalize_connectors_spark.functions.multimodal import (
        attach_synth_png,
        image_ahash,
    )

    # ids congruent mod lcm(9,7,256-ish pattern): same id twice via union
    ids = spark.createDataFrame([(20,), (20,), (40,)], "media_id long")
    rows = image_ahash(attach_synth_png(ids, "media_id")).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], set()).add(
            (r["ahash_hi"], r["ahash_lo"])
        )
    assert len(by_id[20]) == 1  # identical content -> identical hash
    assert by_id[20] != by_id[40]
    assert all(
        0 <= h < 2**32 and 0 <= l < 2**32
        for s in by_id.values() for h, l in s
    )


def test_image_ahash_matches_reference_python():
    import numpy as np

    from amazon_personalize_connectors_spark.functions.multimodal import (
        image_pixels,
    )

    # build the synthetic PNG for id=60 out-of-band and hash by hand
    mid = 60
    w, h = mid % 9 + 4, mid % 7 + 4
    arr = np.array(
        [[(mid * 7 + 3 * x + 11 * y) % 256 for x in range(w)] for y in range(h)],
        dtype="u1",
    )
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    small = arr[ys][:, xs].astype(np.int64)
    mean_floor = int(small.sum()) // 64
    bits = (small >= mean_floor).flatten()
    val = sum(1 << i for i, b in enumerate(bits) if b)
    # ... and the same hash through the real PNG encode+decode path
    import struct
    import zlib as _z

    def chunk(ctype, data):
        raw = ctype + data
        return struct.pack(">I", len(data)) + raw + struct.pack(">I", _z.crc32(raw))

    scan = b"".join(b"\x00" + bytes(int(v) for v in arr[y]) for y in range(h))
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", _z.compress(scan)) + chunk(b"IEND", b""))
    dec = image_pixels(png)
    assert dec.shape == (h, w, 1)
    assert (dec[:, :, 0] == arr).all()
    small2 = dec[ys][:, xs, 0].astype(np.int64)
    val2 = sum(1 << i for i, b in enumerate((small2 >= int(small2.sum()) // 64).flatten()) if b)
    assert val2 == val


# --- palette PNG (color type 3, PLTE/tRNS) — VERDICT r7 item 5 ----------


def make_palette_png(width, height, palette, indices, trns=None) -> bytes:
    """8-bit palette PNG: PLTE of (r,g,b) triplets, one index byte per
    pixel (filter 0 rows), optional tRNS alpha prefix."""
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    plte = b"".join(bytes(rgb) for rgb in palette)
    raw = b"".join(
        b"\x00" + bytes(indices[y * width:(y + 1) * width])
        for y in range(height)
    )
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
    if trns is not None:
        out += chunk(b"tRNS", bytes(trns))
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_palette_png_decodes_to_rgb():
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 11, 13)]
    idx = [0, 1, 2, 3, 3, 2, 1, 0, 1, 1, 2, 2]
    arr = image_pixels(make_palette_png(4, 3, pal, idx))
    assert arr.shape == (3, 4, 3)
    flat = arr.reshape(-1, 3)
    for i, pi in enumerate(idx):
        assert tuple(int(v) for v in flat[i]) == pal[pi]


def test_palette_png_matches_truecolor_decode():
    """The same image content through PLTE indices and through plain
    RGB scanlines must decode byte-identically."""
    pal = [(9, 18, 27), (200, 100, 50)]
    idx = [0, 1, 1, 0, 1, 0, 0, 1, 1]
    p = image_pixels(make_palette_png(3, 3, pal, idx))
    rgb_rows = np.array([pal[i] for i in idx], dtype="u1").reshape(3, 3, 3)
    t = image_pixels(make_png_from_array(rgb_rows))
    assert (p == t).all()


def test_palette_png_trns_adds_alpha():
    pal = [(10, 20, 30), (40, 50, 60), (70, 80, 90)]
    idx = [0, 1, 2, 0]
    # alpha for entries 0 and 1 only; entry 2 defaults opaque (§11.3.2)
    arr = image_pixels(make_palette_png(2, 2, pal, idx, trns=[0, 128]))
    assert arr.shape == (2, 2, 4)
    flat = arr.reshape(-1, 4)
    assert [int(v[3]) for v in flat] == [0, 128, 255, 0]
    for i, pi in enumerate(idx):
        assert tuple(int(v) for v in flat[i][:3]) == pal[pi]


def test_palette_png_corruption_fails_loudly():
    import pytest

    pal = [(1, 2, 3), (4, 5, 6)]
    idx = [0, 1, 1, 0]
    good = make_palette_png(2, 2, pal, idx)
    # PLTE chunk stripped entirely
    import re as _re
    no_plte = make_palette_png(2, 2, [], idx)
    with pytest.raises(ValueError, match="PLTE"):
        image_pixels(no_plte)
    # index beyond the palette
    with pytest.raises(ValueError, match="out of range"):
        image_pixels(make_palette_png(2, 2, pal, [0, 1, 3, 0]))
    # PLTE length not a multiple of 3: hand-corrupt the chunk
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = b"\x00\x00\x01" + b"\x00\x01\x00"
    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"PLTE", b"\x01\x02\x03\x04")
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="multiple of 3"):
        image_pixels(bad)
    # the good image still decodes after the corrupt siblings
    assert image_pixels(good).shape == (2, 2, 3)


def test_palette_png_through_resize_and_ahash():
    """The Spark-side plumbing accepts palette PNGs end to end."""
    pal = [((i * 37) % 256, (i * 59) % 256, (i * 83) % 256) for i in range(16)]
    idx = [(x * 3 + y * 5) % 16 for y in range(8) for x in range(8)]
    content = make_palette_png(8, 8, pal, idx)
    r = resize_image(content, 4, 4)
    assert r["width"] == 4 and r["height"] == 4 and r["nch"] == 3
    expect = np.array([pal[i] for i in idx], dtype="u1").reshape(8, 8, 3)
    d = real_decoder(content, "image")
    assert d["features"][:3] == [8.0, 8.0, 3.0]
    means = expect.reshape(-1, 3).mean(axis=0) / 255.0
    assert np.allclose(d["features"][3:6], means)
