"""Spark-free unit tests for the pure-stdlib media codecs
(operators/_codecs.py): PNG decode across all five scanline filters,
PPM/PGM, JPEG/GIF header sniffing, WAV/PCM, and the feature grids.

Fixtures are generated in-test (own minimal PNG/WAV writers) so the
suite needs no binary files and no codec libraries.
"""

import io
import struct
import time
import wave
import zlib

import numpy as np
import pytest

from spark_pipeline_ops.operators._codecs import (
    FEATURE_DIM,
    decode_avi_frame,
    decode_image_bytes,
    decode_wav_bytes,
    encode_avi,
    encode_jpeg,
    image_grid_features,
    parse_avi,
)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG writer for (h, w, ch) uint8 arrays, applying one
    filter type to every scanline — exercises the decoder's unfilter
    paths (0=None, 1=Sub, 2=Up, 3=Average, 4=Paeth)."""
    h, w, ch = pixels.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        line = pixels[y].reshape(-1).astype(np.int32)
        filt = np.empty_like(line)
        for i in range(len(line)):
            a = int(line[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
            if filter_type == 0:
                pred = 0
            elif filter_type == 1:
                pred = a
            elif filter_type == 2:
                pred = b
            elif filter_type == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[i] = (line[i] - pred) & 0xFF
        raw.append(filter_type)
        raw += filt.astype(np.uint8).tobytes()
        prev = line
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_wav(samples: np.ndarray, sample_rate: int = 16000, channels: int = 1) -> bytes:
    """16-bit PCM WAV from an int16 sample array."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _checker(h, w, ch):
    rng = np.random.default_rng(42)
    return rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)




class TestPngDecode:
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    @pytest.mark.parametrize("ch", [1, 2, 3, 4])
    def test_roundtrip_all_filters_and_channels(self, filter_type, ch):
        px = _checker(11, 7, ch)
        h, w, c, decoded = decode_image_bytes(encode_png(px, filter_type))
        assert (h, w, c) == (11, 7, ch)
        assert decoded is not None and np.array_equal(decoded, px)

    def test_truncated_png_gives_dims_only_or_none(self):
        full = encode_png(_checker(8, 8, 3))
        # cut inside the IDAT payload: header parses, pixels don't
        h, w, c, px = decode_image_bytes(full[:45])
        assert (h, w, c) in ((8, 8, 3), (None, None, None))
        assert px is None

    def test_garbage_is_all_null(self):
        assert decode_image_bytes(b"not an image at all") == (None, None, None, None)
        assert decode_image_bytes(None) == (None, None, None, None)
        assert decode_image_bytes(b"") == (None, None, None, None)

    def test_features_deterministic_and_grid_shaped(self):
        px = _checker(32, 32, 3)
        f1 = image_grid_features(px)
        f2 = image_grid_features(px)
        assert f1 == f2 and len(f1) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in f1)
        # constant image -> constant features
        flat = image_grid_features(np.full((16, 16, 3), 128, np.uint8))
        assert all(abs(v - 128 / 255) < 1e-12 for v in flat)

    def test_tiny_image_features(self):
        f = image_grid_features(np.full((2, 2, 1), 255, np.uint8))
        assert len(f) == FEATURE_DIM and f[0] == 1.0

    def test_decompression_bomb_is_dims_only(self):
        # IDAT inflates to far more than the header-implied scanline
        # size (a zip-bomb row) -> must NOT inflate unboundedly; the
        # row degrades to dims-only, never an OOM or exception
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)  # claims 4x4 RGB
        bomb = zlib.compress(b"\x00" * (50 * 1024 * 1024), 9)  # ~50 MiB raw
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", bomb)
            + _png_chunk(b"IEND", b"")
        )
        assert len(payload) < 1024 * 1024  # the bomb itself is small
        h, w, c, px = decode_image_bytes(payload)
        assert (h, w, c, px) == (4, 4, 3, None)

    def test_absurd_dims_never_inflated(self):
        # header claims 60000x60000 RGBA (~14 GiB of scanlines): the
        # decoder must refuse to allocate and return dims-only
        ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 6, 0, 0, 0)
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 100))
            + _png_chunk(b"IEND", b"")
        )
        h, w, c, px = decode_image_bytes(payload)
        assert (h, w, c, px) == (60000, 60000, 4, None)


class TestPnm:
    def test_ppm_p6(self):
        px = _checker(5, 4, 3)
        payload = b"P6\n# comment\n4 5\n255\n" + px.tobytes()
        h, w, c, decoded = decode_image_bytes(payload)
        assert (h, w, c) == (5, 4, 3)
        assert np.array_equal(decoded, px)

    def test_pgm_p5(self):
        px = _checker(3, 6, 1)
        payload = b"P5 6 3 255\n" + px.tobytes()
        h, w, c, decoded = decode_image_bytes(payload)
        assert (h, w, c) == (3, 6, 1)
        assert np.array_equal(decoded, px)


class TestHeaderSniff:
    def test_jpeg_sof(self):
        # SOI + APP0 stub + SOF0 with 480x640, 3 components
        sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 480, 640, 3)
        payload = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF" + sof
        h, w, c, px = decode_image_bytes(payload)
        assert (h, w, c, px) == (480, 640, 3, None)

    def test_jpeg_truncated_before_channel_byte_keeps_dims(self):
        # SOF parses height/width but the payload ends exactly before
        # the component-count byte: dims survive, channels is NULL
        sof = b"\xff\xc0" + struct.pack(">HBHH", 11, 8, 480, 640)
        payload = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF" + sof
        h, w, c, px = decode_image_bytes(payload)
        assert (h, w, c, px) == (480, 640, None, None)

    def test_gif(self):
        payload = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
        h, w, c, px = decode_image_bytes(payload)
        assert (h, w, c, px) == (200, 320, 3, None)


class TestWav:
    def test_mono_16bit(self):
        samples = (np.sin(np.linspace(0, 40 * np.pi, 3200)) * 20000).astype(np.int16)
        sr, n, feats = decode_wav_bytes(encode_wav(samples, 16000))
        assert sr == 16000 and n == 3200
        assert len(feats) == FEATURE_DIM
        # a steady sine has near-equal RMS in every bin
        assert max(feats) - min(feats) < 0.05
        assert all(0.4 < v < 0.8 for v in feats)  # amplitude 20000/32768 / sqrt(2)

    def test_stereo_downmix(self):
        left = np.full(1600, 10000, np.int16)
        right = np.full(1600, -10000, np.int16)
        inter = np.empty(3200, np.int16)
        inter[0::2], inter[1::2] = left, right
        sr, n, feats = decode_wav_bytes(encode_wav(inter, 44100, channels=2))
        assert sr == 44100 and n == 1600
        # L/R cancel in the mono mix
        assert all(v < 1e-9 for v in feats)

    def test_silence_and_empty(self):
        sr, n, feats = decode_wav_bytes(encode_wav(np.zeros(160, np.int16)))
        assert n == 160 and all(v == 0.0 for v in feats)
        sr0, n0, f0 = decode_wav_bytes(encode_wav(np.zeros(0, np.int16)))
        assert (sr0, n0, f0) == (16000, 0, None)

    def test_non_wav_is_null(self):
        assert decode_wav_bytes(b"RIFF but not really") == (None, None, None)
        assert decode_wav_bytes(None) == (None, None, None)
        assert decode_wav_bytes(b"") == (None, None, None)

    def test_8bit_unsigned(self):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)
            w.setframerate(8000)
            w.writeframes(bytes([128] * 100))  # digital silence at 8-bit
        sr, n, feats = decode_wav_bytes(buf.getvalue())
        assert sr == 8000 and n == 100
        assert all(v == 0.0 for v in feats)


class TestAvi:
    def test_roundtrip_rgb_frames(self):
        frames = [_checker(6, 5, 3), _checker(6, 5, 3), _checker(6, 5, 3)]
        info = parse_avi(encode_avi(frames, fps=2))
        assert info is not None
        assert (info["width"], info["height"]) == (5, 6)
        assert info["fps"] == 2.0
        assert info["compression"] == 0 and info["bitcount"] == 24
        assert len(info["frames"]) == 3
        for i, f in enumerate(frames):
            got = decode_avi_frame(info, i)
            assert got is not None and np.array_equal(got, f), f"frame {i}"

    def test_odd_width_row_padding(self):
        # width 3 -> 9-byte rows padded to 12: the stride math must strip
        # the pad, not shift pixels
        frames = [_checker(4, 3, 3)]
        info = parse_avi(encode_avi(frames))
        assert np.array_equal(decode_avi_frame(info, 0), frames[0])

    def test_out_of_range_and_garbage(self):
        info = parse_avi(encode_avi([_checker(4, 4, 3)]))
        assert decode_avi_frame(info, 1) is None
        assert decode_avi_frame(info, -1) is None
        assert parse_avi(b"RIFF\x00\x00\x00\x00WAVE") is None
        assert parse_avi(b"not a container") is None
        assert parse_avi(None) is None

    def test_truncated_container_is_none_or_partial(self):
        full = encode_avi([_checker(8, 8, 3), _checker(8, 8, 3)])
        cut = parse_avi(full[: len(full) // 2])
        # header may parse (dims known); truncated frames must not crash
        if cut is not None:
            for i in range(len(cut["frames"])):
                decode_avi_frame(cut, i)  # no exception; None is fine


class TestPilParity:
    def test_pil_decodes_our_png_identically(self):
        PIL_Image = pytest.importorskip("PIL.Image")
        px = _checker(10, 9, 3)
        img = PIL_Image.open(io.BytesIO(encode_png(px, 4)))
        assert np.array_equal(np.asarray(img), px)


class TestJpegCodec:
    """Round-16 stdlib baseline-JPEG codec (VERDICT r15 #7, stronger
    option): full decode without PIL, round-tripped against our own
    fixture-grade encoder. JPEG is lossy — compare with tolerance;
    solid-color blocks must survive near-exactly."""

    @staticmethod
    def _smooth(h, w):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.clip(
            np.stack([yy * 6, xx * 7, yy * 3 + xx * 3], -1), 0, 255
        ).astype(np.uint8)

    def test_roundtrip_444_rgb(self):
        px = self._smooth(24, 17)
        h, w, c, out = decode_image_bytes(encode_jpeg(px, quality=95))
        assert (h, w, c) == (24, 17, 3)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 4

    def test_roundtrip_420_subsampled(self):
        px = self._smooth(40, 33)
        h, w, c, out = decode_image_bytes(
            encode_jpeg(px, quality=92, subsample=True)
        )
        assert (h, w, c) == (40, 33, 3)
        # chroma is 2x2-averaged: tolerate more, but the image must
        # clearly be THIS image
        assert np.abs(out.astype(int) - px.astype(int)).mean() < 4

    def test_roundtrip_grayscale(self):
        px = self._smooth(16, 11)[:, :, 0]
        h, w, c, out = decode_image_bytes(encode_jpeg(px, quality=95))
        assert (h, w, c) == (16, 11, 1)
        assert np.abs(out[:, :, 0].astype(int) - px.astype(int)).max() <= 3

    def test_roundtrip_restart_markers(self):
        px = self._smooth(40, 33)
        h, w, c, out = decode_image_bytes(
            encode_jpeg(px, quality=92, restart_interval=2)
        )
        assert (h, w, c) == (40, 33, 3)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 6

    def test_solid_color_near_exact(self):
        solid = np.full((16, 16, 3), 120, np.uint8)
        _, _, _, out = decode_image_bytes(encode_jpeg(solid, quality=90))
        assert np.abs(out.astype(int) - 120).max() == 0

    def test_truncated_entropy_falls_back_to_sniff_dims(self):
        px = self._smooth(24, 17)
        b = encode_jpeg(px, quality=90)
        cut = b[: len(b) // 2]
        h, w, c, out = decode_image_bytes(cut)
        # full decode impossible -> header sniff still yields dims
        assert (h, w, c) == (24, 17, 3)
        assert out is None

    def test_progressive_sof2_sniffs_dims_only(self):
        # hand-build SOI + SOF2: the baseline decoder must refuse and
        # the sniffer must still report dimensions
        sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 48, 64, 3)
        payload = (
            b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF" + sof2
        )
        assert decode_image_bytes(payload) == (48, 64, 3, None)

    def test_garbage_never_raises(self):
        from spark_pipeline_ops.operators._codecs import (
            _decode_jpeg,
        )

        for b in (
            b"\xff\xd8\xff",
            b"\xff\xd8" + b"\x00" * 50,
            encode_jpeg(self._smooth(8, 8))[:-20] + b"\xff" * 20,
        ):
            got = _decode_jpeg(bytes(b))
            assert got is None or got[3] is None or got[3].dtype == np.uint8

    def test_plane_allocation_bomb_rejected(self):
        # ADVICE r17: a crafted header claiming 65535x65535 with 4x4
        # sampling passes a pure MCU-count cap while the padded float64
        # plane would be ~32 GiB. The decoder must reject on the padded
        # PIXEL bound before allocating; the header sniff still serves
        # dims-only.
        from spark_pipeline_ops.operators._codecs import (
            _decode_jpeg,
        )

        b = bytearray(encode_jpeg(self._smooth(16, 16), quality=90))
        sof = b.find(b"\xff\xc0")
        assert sof >= 0
        # SOF0 payload: len(2) P(1) H(2) W(2) Nf(1) [id, HV, Tq]*
        struct.pack_into(">HH", b, sof + 5, 65535, 65535)
        b[sof + 11] = 0x44  # component 0 sampling factors 4x4
        t0 = time.monotonic()
        assert _decode_jpeg(bytes(b)) is None
        got = decode_image_bytes(bytes(b))
        assert got[3] is None  # at most a dims-only sniff, no pixels
        assert time.monotonic() - t0 < 5.0

    def test_pil_decodes_our_jpeg_close(self):
        PIL_Image = pytest.importorskip("PIL.Image")
        px = self._smooth(24, 17)
        img = PIL_Image.open(io.BytesIO(encode_jpeg(px, quality=95)))
        arr = np.asarray(img)
        assert arr.shape == (24, 17, 3)
        assert np.abs(arr.astype(int) - px.astype(int)).mean() < 3


class TestMjpegAvi:
    def test_mjpeg_frames_decode(self):
        yy, xx = np.mgrid[0:24, 0:20]
        f0 = np.clip(
            np.stack([yy * 8, xx * 9, yy * 4 + xx * 4], -1), 0, 255
        ).astype(np.uint8)
        f1 = (255 - f0).astype(np.uint8)
        info = parse_avi(encode_avi([f0, f1], codec="mjpg"))
        assert info is not None and len(info["frames"]) == 2
        a = decode_avi_frame(info, 0)
        b = decode_avi_frame(info, 1)
        assert a is not None and b is not None
        assert np.abs(a.astype(int) - f0.astype(int)).mean() < 2
        assert np.abs(b.astype(int) - f1.astype(int)).mean() < 2

    def test_mjpeg_corrupt_frame_is_none(self):
        f0 = np.full((16, 16, 3), 90, np.uint8)
        avi = encode_avi([f0], codec="mjpg")
        info = parse_avi(avi)
        info["frames"][0] = b"\xff\xd8" + b"\x01" * 10  # broken JPEG
        assert decode_avi_frame(info, 0) is None

    def test_bad_codec_rejected(self):
        with pytest.raises(ValueError, match="codec"):
            encode_avi([np.zeros((8, 8, 3), np.uint8)], codec="h264")
