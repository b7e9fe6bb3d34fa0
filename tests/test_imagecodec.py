"""Pure-stdlib image codec (ocr_spark.imagecodec) — no Spark needed.

These tests pin round-trips, every PNG filter type, error paths, and the
exact nearest-neighbor index mapping of ``resize_nearest``.
"""

import random
import struct
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from ocr_spark import imagecodec as ic


def _rand_pixels(rng, w, h, ch):
    return bytes(rng.randrange(256) for _ in range(w * h * ch))


class TestPng:
    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    @pytest.mark.parametrize("filter_mode", ["cycle", "none"])
    def test_round_trip_all_channel_counts(self, channels, filter_mode):
        rng = random.Random(channels * 31 + len(filter_mode))
        w, h = 13, 11  # odd dims: stride not a multiple of anything handy
        px = _rand_pixels(rng, w, h, channels)
        out = ic.png_decode(
            ic.png_encode(w, h, px, channels, filter_mode=filter_mode)
        )
        assert out == ic.DecodedImage(w, h, channels, px)

    def test_cycle_mode_emits_all_five_filters(self):
        """The fixture encoder must actually exercise filters 0-4 —
        that's what makes the contract's analytic-sum check a full
        decoder test."""
        data = ic.png_encode(4, 10, bytes(4 * 10 * 3), 3, "cycle")
        # parse out the IDAT stream and read each row's filter byte
        pos, idat = 8, b""
        while pos + 8 <= len(data):
            (clen,) = struct.unpack_from(">I", data, pos)
            ctype = data[pos + 4:pos + 8]
            if ctype == b"IDAT":
                idat += data[pos + 8:pos + 8 + clen]
            pos += 12 + clen
        raw = zlib.decompress(idat)
        stride = 4 * 3
        filters = {raw[y * (stride + 1)] for y in range(10)}
        assert filters == {0, 1, 2, 3, 4}

    @given(st.integers(1, 9), st.integers(1, 9), st.integers(0, 2**32 - 1))
    @settings(max_examples=25, deadline=None)
    def test_round_trip_property(self, w, h, seed):
        rng = random.Random(seed)
        px = _rand_pixels(rng, w, h, 3)
        assert ic.png_decode(ic.png_encode(w, h, px, 3)).pixels == px

    def test_rejects_bad_signature_crc_and_truncation(self):
        good = ic.png_encode(3, 3, bytes(27), 3)
        with pytest.raises(ValueError, match="bad signature"):
            ic.png_decode(b"\x89PNG....")
        corrupt = bytearray(good)
        corrupt[20] ^= 0xFF  # inside IHDR body → CRC mismatch
        with pytest.raises(ValueError, match="CRC mismatch"):
            ic.png_decode(bytes(corrupt))
        # cut inside the IDAT body so the chunk is shorter than its
        # declared length (stripping only the IEND tail is tolerated)
        idat_at = good.index(b"IDAT")
        with pytest.raises(ValueError, match="truncated chunk"):
            ic.png_decode(good[: idat_at + 6])

    def test_rejects_unsupported_shapes_loudly(self):
        # bit depth 16
        ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
        data = (
            b"\x89PNG\r\n\x1a\n"
            + ic._chunk(b"IHDR", ihdr)
            + ic._chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="bit depth 16"):
            ic.png_decode(data)
        # Adam7 interlace
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
        data = (
            b"\x89PNG\r\n\x1a\n"
            + ic._chunk(b"IHDR", ihdr)
            + ic._chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="interlace"):
            ic.png_decode(data)

    def test_paeth_matches_spec_reference(self):
        """PNG spec §9.4 reference implementation, exhaustive over the
        byte domain on a sampled grid."""
        for a in range(0, 256, 17):
            for b in range(0, 256, 17):
                for c in range(0, 256, 17):
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    if pa <= pb and pa <= pc:
                        want = a
                    elif pb <= pc:
                        want = b
                    else:
                        want = c
                    assert ic._paeth(a, b, c) == want


class TestPpmBmp:
    def test_ppm_round_trip_and_comments(self):
        px = bytes(range(0, 24 * 3 % 256)) * 0 + bytes(
            (i * 7) % 256 for i in range(8 * 3 * 3)
        )
        data = ic.ppm_encode(8, 3, px)
        assert ic.ppm_decode(data) == ic.DecodedImage(8, 3, 3, px)
        commented = b"P6\n# a comment\n8 3\n255\n" + px
        assert ic.ppm_decode(commented).pixels == px

    def test_bmp_round_trip_including_row_padding(self):
        # width 3 → 9-byte rows padded to 12: exercises the pad logic
        px = bytes((i * 11) % 256 for i in range(3 * 5 * 3))
        assert ic.bmp_decode(ic.bmp_encode(3, 5, px)) == ic.DecodedImage(
            3, 5, 3, px
        )

    def test_bmp_rejects_compressed(self):
        data = bytearray(ic.bmp_encode(2, 2, bytes(12)))
        struct.pack_into("<I", data, 30, 1)  # BI_RLE8
        with pytest.raises(ValueError, match="unsupported BMP"):
            ic.bmp_decode(bytes(data))

    def test_sniff_dispatch(self):
        px = bytes(12)
        assert ic.sniff_decode(ic.png_encode(2, 2, px)).width == 2
        assert ic.sniff_decode(ic.ppm_encode(2, 2, px)).width == 2
        assert ic.sniff_decode(ic.bmp_encode(2, 2, px)).width == 2
        with pytest.raises(ValueError, match="unrecognized"):
            ic.sniff_decode(b"\xff\xd8\xffJPEG...")


class TestRgbAndResize:
    def test_to_rgb_gray_and_alpha(self):
        gray = ic.DecodedImage(2, 1, 1, bytes((10, 200)))
        assert ic.to_rgb(gray).pixels == bytes((10, 10, 10, 200, 200, 200))
        ga = ic.DecodedImage(1, 1, 2, bytes((7, 99)))
        assert ic.to_rgb(ga).pixels == bytes((7, 7, 7))
        rgba = ic.DecodedImage(1, 1, 4, bytes((1, 2, 3, 4)))
        assert ic.to_rgb(rgba).pixels == bytes((1, 2, 3))

    def test_resize_exact_index_mapping(self):
        """out(x2, y2) = src(x2*W//out_w, y2*H//out_h) — the formula the
        SQL oracle replays; verify cell by cell on a non-divisible
        shape."""
        w, h, w2, h2 = 7, 5, 3, 4
        px = bytes((i % 256) for i in range(w * h * 3))
        src = ic.DecodedImage(w, h, 3, px)
        out = ic.resize_nearest(src, w2, h2)
        assert (out.width, out.height) == (w2, h2)
        for y2 in range(h2):
            for x2 in range(w2):
                sx, sy = x2 * w // w2, y2 * h // h2
                i, j = (y2 * w2 + x2) * 3, (sy * w + sx) * 3
                assert out.pixels[i:i + 3] == px[j:j + 3], (x2, y2)

    def test_resize_upscale_and_identity(self):
        px = bytes((i * 3) % 256 for i in range(4 * 4 * 3))
        img = ic.DecodedImage(4, 4, 3, px)
        assert ic.resize_nearest(img, 4, 4).pixels == px
        up = ic.resize_nearest(img, 8, 8)
        assert up.pixels[0:3] == px[0:3]
        with pytest.raises(ValueError, match="positive"):
            ic.resize_nearest(img, 0, 4)


class TestHostileInputs:
    def test_png_decompression_bomb_rejected_before_inflate(self):
        """A few-KB IDAT claiming huge dimensions must fail fast on the
        IHDR-implied size, never allocate gigabytes (r5 review finding:
        unbounded zlib.decompress ran before the size check)."""
        import struct
        import time
        import zlib

        import pytest

        from ocr_spark import imagecodec as ic

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 0, 0, 0, 0)
        idat = zlib.compress(b"\x00" * 1_000_000, 9)  # ~1 KB compressed
        bomb = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )
        t0 = time.time()
        with pytest.raises(ValueError, match="decode cap"):
            ic.png_decode(bomb)
        assert time.time() - t0 < 2.0

    def test_bmp_dimension_bomb_rejected_before_allocation(self):
        """A 54-byte BMP header declaring 30000x30000 must fail on the
        header math, never attempt the ~2.7 GB output buffer (the same
        class the PNG/GIF guards cover)."""
        import struct
        import time

        import pytest

        from ocr_spark import imagecodec as ic

        w = h = 30_000
        hdr = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
        hdr += struct.pack("<Iii", 40, w, h)
        hdr += struct.pack("<HH", 1, 24) + struct.pack("<I", 0)
        hdr += bytes(20)  # rest of BITMAPINFOHEADER
        t0 = time.time()
        with pytest.raises(ValueError, match="decode cap"):
            ic.bmp_decode(hdr)
        assert time.time() - t0 < 1.0

    def test_bmp_degenerate_dims_rejected(self):
        import struct

        import pytest

        from ocr_spark import imagecodec as ic

        for w, h in ((0, 4), (-3, 4), (3, 0)):
            hdr = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
            hdr += struct.pack("<Iii", 40, w, h)
            hdr += struct.pack("<HH", 1, 24) + struct.pack("<I", 0)
            hdr += bytes(20)
            with pytest.raises(ValueError, match="degenerate"):
                ic.bmp_decode(hdr)

    def test_png_oversize_idat_within_cap_rejected_bounded(self):
        """IHDR small but IDAT inflates to more: the bounded inflate
        stops at want+1 bytes and reports corruption."""
        import struct
        import zlib

        import pytest

        from ocr_spark import imagecodec as ic

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # wants 10 B
        idat = zlib.compress(b"\x00" * 100_000)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="filtered bytes"):
            ic.png_decode(png)

    def test_ppm_crlf_header_decodes_exact(self):
        """CRLF after maxval (Windows tooling) must not shift every
        pixel by one byte (r5 review finding — the old off-by-one could
        still pass the length check via a trailing byte)."""
        from ocr_spark import imagecodec as ic

        rgb = bytes(range(2 * 2 * 3))
        crlf_ppm = b"P6\n2 2\n255\r\n" + rgb + b"\n"
        img = ic.ppm_decode(crlf_ppm)
        assert (img.width, img.height, img.pixels) == (2, 2, rgb)
        # the plain single-\n form still round-trips
        assert ic.ppm_decode(ic.ppm_encode(2, 2, rgb)).pixels == rgb
