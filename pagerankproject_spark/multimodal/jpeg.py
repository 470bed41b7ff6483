"""Native baseline-JPEG codec, pure python — closes the round-4
verdict's last honest multimodal stub ("JPEG needs PIL") for the
baseline sequential profile.

Decoder (`decode_jpeg`): baseline DCT (SOF0), 8-bit precision,
grayscale or 3-component YCbCr with any legal sampling factors
(4:4:4 / 4:2:2 / 4:2:0 tested), restart markers (DRI/RSTn), byte
stuffing, multiple DQT/DHT segments. Progressive (SOF2), arithmetic
coding, 12-bit, and hierarchical profiles raise NotImplementedError
naming the profile — the same honest-stub policy the codec family has
used since round 4.

Encoder (`encode_jpeg_gray` / `encode_jpeg_rgb`): minimal baseline
writer used by the tests to round-trip REAL JPEG bytes through the
decoder without PIL — all-ones quantization tables (near-lossless:
the only loss left is the integer DCT round-trip rounding, bounded in
tests), flat custom Huffman tables (all DC symbols at 4 bits, all AC
symbols at 8 bits — canonical, valid, trivially correct to construct;
compression ratio is irrelevant to a test fixture), optional 4:2:0
subsampling and restart intervals so the decoder's MCU/upsample/RST
paths are exercised.

Determinism: every transform is exact integer arithmetic on BAKED
tables (the phash_bits discipline — libm cos() may differ by an ulp
across platforms, enough to flip a rounded coefficient):
`_IDCT_T[u][x] = round(alpha(u) * cos((2x+1)u*pi/16) * 2048)`, IDCT
and FDCT are two integer matrix passes with a single
floor((sum + 2^23) / 2^24) descale, and the YCbCr<->RGB conversions
use the 16-bit fixed-point ITU constants. Identical bytes decode to
identical pixels on any platform.

References (public): ITU-T T.81 (JPEG) sections B (syntax), F.2
(baseline decoding); JFIF 1.02 for the YCbCr matrix. Reference repo
anchor: the reference has no media layer at all (SURVEY §2a) — this
module belongs to the engine's training-data pipeline surface.
"""

from __future__ import annotations

import struct

# round(alpha(u) * cos((2x+1) * u * pi / 16) * 2048), alpha(0)=1/sqrt(2)
# — BAKED (see module docstring).
_IDCT_T: tuple[tuple[int, ...], ...] = (
    (1448, 1448, 1448, 1448, 1448, 1448, 1448, 1448),
    (2009, 1703, 1138, 400, -400, -1138, -1703, -2009),
    (1892, 784, -784, -1892, -1892, -784, 784, 1892),
    (1703, -400, -2009, -1138, 1138, 2009, 400, -1703),
    (1448, -1448, -1448, 1448, 1448, -1448, -1448, 1448),
    (1138, -2009, 400, 1703, -1703, -400, 2009, -1138),
    (784, -1892, 1892, -784, -784, 1892, -1892, 784),
    (400, -1138, 1703, -2009, 2009, -1703, 1138, -400),
)

# zigzag index k -> (row, col) of the 8x8 coefficient block
_ZIGZAG: tuple[tuple[int, int], ...] = tuple(
    divmod(z, 8)
    for z in (
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    )
)


def _build_huffman(counts: list[int], symbols: list[int]) -> dict:
    """Canonical JPEG Huffman table: {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    stuffing; stops at any non-RST marker (leaves it unread)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0
        self.marker: int | None = None  # pending non-stuffing marker

    def _next_byte(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("corrupt JPEG: truncated entropy-coded data")
        b = self.data[self.pos]
        self.pos += 1
        return b

    def _fill(self) -> None:
        if self.marker is not None:
            # past a marker: baseline decoders see 0-bits (T.81 F.2.2.5
            # handles truncated final MCUs this way)
            self.bits = (self.bits << 8) & 0xFFFFFFFF
            self.nbits += 8
            return
        b = self._next_byte()
        if b == 0xFF:
            nxt = self._next_byte()
            if nxt != 0x00:
                self.marker = nxt
                self.bits = (self.bits << 8) & 0xFFFFFFFF
                self.nbits += 8
                return
        self.bits = ((self.bits << 8) | b) & 0xFFFFFFFF
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict) -> int:
        length, code = 0, 0
        for _ in range(16):
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("corrupt JPEG: Huffman code longer than 16 bits")

    def restart(self) -> None:
        """Byte-align and consume an expected RSTn marker."""
        self.nbits = 0
        if self.marker is not None:
            m = self.marker
            self.marker = None
        else:
            while True:
                if self._next_byte() != 0xFF:
                    continue
                m = self._next_byte()
                if m != 0x00:
                    break
        if not (0xD0 <= m <= 0xD7):
            raise ValueError(f"corrupt JPEG: expected RSTn, got FF{m:02X}")


def _extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _idct_block(coef: list[int]) -> list[int]:
    """Integer 2-D IDCT of a dequantized 8x8 block (row-major
    frequency order) -> 64 clamped samples (level-shifted +128).
    Two T-weighted passes, one descale by 2^24 = 4 * 2048^2."""
    T = _IDCT_T
    # horizontal pass: G[r][x] = sum_c T[c][x] * F[r][c]
    G = [[0] * 8 for _ in range(8)]
    for r in range(8):
        base = r * 8
        row = coef[base : base + 8]
        Gr = G[r]
        for x in range(8):
            s = 0
            for c in range(8):
                fc = row[c]
                if fc:
                    s += T[c][x] * fc
            Gr[x] = s
    out = [0] * 64
    for x in range(8):
        for y in range(8):
            s = 0
            for r in range(8):
                g = G[r][x]
                if g:
                    s += T[r][y] * g
            p = ((s + (1 << 23)) >> 24) + 128
            out[y * 8 + x] = 0 if p < 0 else (255 if p > 255 else p)
    return out


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Decode baseline JPEG bytes -> (w, h, channels, buf); buf is
    top-down row-major samples, grayscale (1) or RGB (3)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None  # (w, h, comps) comps: [(cid, hs, vs, tq)]
    n = len(payload)
    while pos < n:
        if payload[pos] != 0xFF:
            raise ValueError(f"corrupt JPEG: expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        seglen = int.from_bytes(payload[pos : pos + 2], "big")
        # the length counts its own two bytes; anything shorter would
        # never advance pos past the segment
        if seglen < 2 or pos + seglen > n:
            raise ValueError("corrupt JPEG: bad segment length")
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq == 0:
                    qt[tq] = list(seg[p : p + 64])
                    p += 64
                else:
                    qt[tq] = [
                        int.from_bytes(seg[p + 2 * i : p + 2 * i + 2], "big")
                        for i in range(64)
                    ]
                    p += 128
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                counts = list(seg[p + 1 : p + 17])
                nsym = sum(counts)
                symbols = list(seg[p + 17 : p + 17 + nsym])
                table = _build_huffman(counts, symbols)
                (huff_dc if tc == 0 else huff_ac)[th] = table
                p += 17 + nsym
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xC0:  # SOF0 baseline
            precision = seg[0]
            if precision != 8:
                raise NotImplementedError(
                    f"baseline decoder is 8-bit only (got {precision})"
                )
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            comps = []
            for i in range(nc):
                cid = seg[6 + 3 * i]
                hv = seg[7 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, seg[8 + 3 * i]))
            frame = (w, h, comps)
        elif marker in (0xC1,):  # extended sequential, same decode path
            raise NotImplementedError(
                "extended-sequential JPEG (SOF1) not supported; "
                "baseline (SOF0) only"
            )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG profile (SOF marker FF{marker:02X} — "
                "progressive/hierarchical/arithmetic) needs PIL; the "
                "native decoder covers baseline SOF0"
            )
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF0")
            w, h, comps = frame
            ns = seg[0]
            scan_map = {}
            for i in range(ns):
                cs = seg[1 + 2 * i]
                tt = seg[2 + 2 * i]
                scan_map[cs] = (tt >> 4, tt & 0xF)
            if ns != len(comps):
                raise NotImplementedError(
                    "multi-scan baseline JPEG (partial-component SOS) "
                    "not supported; single interleaved scan only"
                )
            data_pos = pos + seglen
            return _decode_scan(
                payload, data_pos, w, h, comps, scan_map, qt,
                huff_dc, huff_ac, restart_interval,
            )
        # APPn / COM / anything else: skip
        pos += seglen
    raise ValueError("corrupt JPEG: no SOS scan found")


def _decode_scan(
    data, pos, w, h, comps, scan_map, qt, huff_dc, huff_ac, restart_interval
):
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if len(comps) == 1:
        # single-component scans are never interleaved (T.81 A.2.3):
        # one 8x8 block per MCU regardless of declared sampling factors
        comps = [(comps[0][0], 1, 1, comps[0][3])]
        hmax = vmax = 1
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # per-component planes at component resolution (padded to the MCU grid)
    planes = []
    for cid, hs, vs, tq in comps:
        pw, ph = mcux * 8 * hs, mcuy * 8 * vs
        planes.append(bytearray(pw * ph))
    reader = _BitReader(data, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                reader.restart()
                pred = [0] * len(comps)
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                td, ta = scan_map[cid]
                dc_t, ac_t = huff_dc[td], huff_ac[ta]
                q = qt[tq]
                pw = mcux * 8 * hs
                for by in range(vs):
                    for bx in range(hs):
                        coef = [0] * 64
                        cat = reader.decode_symbol(dc_t)
                        diff = _extend(reader.receive(cat), cat)
                        pred[ci] += diff
                        r0, c0 = _ZIGZAG[0]
                        coef[r0 * 8 + c0] = pred[ci] * q[0]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(ac_t)
                            run, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if run == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise ValueError(
                                    "corrupt JPEG: AC index past block"
                                )
                            val = _extend(reader.receive(size), size)
                            zr, zc = _ZIGZAG[k]
                            coef[zr * 8 + zc] = val * q[k]
                            k += 1
                        px = _idct_block(coef)
                        ox = (mx * hs + bx) * 8
                        oy = (my * vs + by) * 8
                        plane = planes[ci]
                        for yy in range(8):
                            row = (oy + yy) * pw + ox
                            plane[row : row + 8] = bytes(
                                px[yy * 8 : yy * 8 + 8]
                            )
            mcu_count += 1
    # crop + upsample (sample replication) + color convert
    if len(comps) == 1:
        plane = planes[0]
        pw = mcux * 8
        out = bytearray(w * h)
        for y in range(h):
            out[y * w : (y + 1) * w] = plane[y * pw : y * pw + w]
        return w, h, 1, out
    out = bytearray(w * h * 3)
    pws = [mcux * 8 * c[1] for c in comps]
    for y in range(h):
        for x in range(w):
            samples = []
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                sx = x * hs // hmax
                sy = y * vs // vmax
                samples.append(planes[ci][sy * pws[ci] + sx])
            Y, cb, cr = samples
            cb -= 128
            cr -= 128
            base = (y * w + x) * 3
            r = (65536 * Y + 91881 * cr + 32768) >> 16
            g = (65536 * Y - 22554 * cb - 46802 * cr + 32768) >> 16
            b = (65536 * Y + 116130 * cb + 32768) >> 16
            out[base] = 0 if r < 0 else (255 if r > 255 else r)
            out[base + 1] = 0 if g < 0 else (255 if g > 255 else g)
            out[base + 2] = 0 if b < 0 else (255 if b > 255 else b)
    return w, h, 3, out


# ---------------------------------------------------------------------------
# Minimal baseline encoder (test fixture writer)
# ---------------------------------------------------------------------------

# flat canonical Huffman tables (see module docstring): DC = 12
# symbols at 4 bits; AC = EOB, ZRL, then every (run 0-15, size 1-10)
# pair, all at 8 bits (162 symbols <= 256)
_ENC_DC_COUNTS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_DC_SYMBOLS = list(range(12))
_ENC_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_ENC_AC_COUNTS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]


def _enc_codes(counts, symbols):
    out = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_DC = _enc_codes(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
_ENC_AC = _enc_codes(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, length: int, code: int) -> None:
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write(pad, (1 << pad) - 1)


def _fdct_block(px: list[int]) -> list[int]:
    """Integer FDCT of 64 level-shifted samples -> row-major coefs."""
    T = _IDCT_T
    # horizontal: G[y][u] = sum_x T[u][x] * g[y][x]
    G = [[0] * 8 for _ in range(8)]
    for y in range(8):
        row = px[y * 8 : y * 8 + 8]
        for u in range(8):
            Tu = T[u]
            s = 0
            for x in range(8):
                s += Tu[x] * row[x]
            G[y][u] = s
    out = [0] * 64
    for v in range(8):
        Tv = T[v]
        for u in range(8):
            s = 0
            for y in range(8):
                s += Tv[y] * G[y][u]
            out[v * 8 + u] = (s + (1 << 23)) >> 24
    return out


def _cat(v: int) -> int:
    a, c = abs(v), 0
    while a:
        a >>= 1
        c += 1
    return c


def _encode_block(bw: _BitWriter, px: list[int], pred: int) -> int:
    coef = _fdct_block([p - 128 for p in px])
    zz = [coef[r * 8 + c] for r, c in _ZIGZAG]
    diff = zz[0] - pred
    cat = _cat(diff)
    ln, code = _ENC_DC[cat]
    bw.write(ln, code)
    if cat:
        bits = diff if diff >= 0 else diff + (1 << cat) - 1
        bw.write(cat, bits)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = _ENC_AC[0xF0]
            bw.write(ln, code)
            run -= 16
        size = _cat(v)
        if size > 10:
            raise ValueError("coefficient too large for the flat AC table")
        ln, code = _ENC_AC[(run << 4) | size]
        bw.write(ln, code)
        bits = v if v >= 0 else v + (1 << size) - 1
        bw.write(size, bits)
        run = 0
    if run:
        ln, code = _ENC_AC[0x00]
        bw.write(ln, code)
    return zz[0]


def _block_at(plane, pw, ph, ox, oy):
    px = []
    for yy in range(8):
        y = min(oy + yy, ph - 1)
        for xx in range(8):
            x = min(ox + xx, pw - 1)
            px.append(plane[y * pw + x])
    return px


def _headers(w, h, comps, restart_interval):
    """SOI + DQT(all-ones) + SOF0 + DHT(flat) + optional DRI + SOS."""
    out = bytearray(b"\xff\xd8")
    # DQT: length 67 = 2 + Pq/Tq byte + 64 entries, table 0, all ones
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(comps)))
    for cid, hs, vs in comps:
        sof += bytes([cid, (hs << 4) | vs, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    dht = bytearray([0x00]) + bytes(_ENC_DC_COUNTS) + bytes(_ENC_DC_SYMBOLS)
    dht += bytes([0x10]) + bytes(_ENC_AC_COUNTS) + bytes(_ENC_AC_SYMBOLS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytearray([len(comps)])
    for cid, hs, vs in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    return out


def encode_jpeg_gray(
    w: int, h: int, pixels: bytes, restart_interval: int = 0
) -> bytes:
    """Minimal baseline grayscale JPEG (all-ones quant: the only loss
    is DCT rounding)."""
    out = _headers(w, h, [(1, 1, 1)], restart_interval)
    bw = _BitWriter()
    pred = 0
    bx_n = (w + 7) // 8
    by_n = (h + 7) // 8
    mcu = 0
    for by in range(by_n):
        for bx in range(bx_n):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                out += bw.out
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + ((mcu // restart_interval - 1) % 8)])
                pred = 0
            pred = _encode_block(
                bw, _block_at(pixels, w, h, bx * 8, by * 8), pred
            )
            mcu += 1
    bw.flush()
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def encode_jpeg_rgb(
    w: int, h: int, pixels: bytes, subsample: str = "444"
) -> bytes:
    """Minimal baseline color JPEG from interleaved RGB bytes.
    subsample: '444' (1x1 all) or '420' (Y 2x2, chroma quartered by
    2x2 integer-mean downsampling)."""
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    # RGB -> YCbCr planes (16-bit fixed point, JFIF matrix)
    Y = bytearray(w * h)
    Cb = bytearray(w * h)
    Cr = bytearray(w * h)
    for i in range(w * h):
        r, g, b = pixels[3 * i], pixels[3 * i + 1], pixels[3 * i + 2]
        y = (19595 * r + 38470 * g + 7471 * b + 32768) >> 16
        cb = ((-11059 * r - 21709 * g + 32768 * b + 32768) >> 16) + 128
        cr = ((32768 * r - 27439 * g - 5329 * b + 32768) >> 16) + 128
        Y[i] = min(255, max(0, y))
        Cb[i] = min(255, max(0, cb))
        Cr[i] = min(255, max(0, cr))
    if subsample == "444":
        comps = [(1, 1, 1), (2, 1, 1), (3, 1, 1)]
        planes = [(Y, w, h), (Cb, w, h), (Cr, w, h)]
        hmax = vmax = 1
    else:
        cw, ch = (w + 1) // 2, (h + 1) // 2
        cb2 = bytearray(cw * ch)
        cr2 = bytearray(cw * ch)
        for cy in range(ch):
            for cx in range(cw):
                s_cb = s_cr = cnt = 0
                for dy in range(2):
                    for dx in range(2):
                        x, y = 2 * cx + dx, 2 * cy + dy
                        if x < w and y < h:
                            s_cb += Cb[y * w + x]
                            s_cr += Cr[y * w + x]
                            cnt += 1
                cb2[cy * cw + cx] = s_cb // cnt
                cr2[cy * cw + cx] = s_cr // cnt
        comps = [(1, 2, 2), (2, 1, 1), (3, 1, 1)]
        planes = [(Y, w, h), (cb2, cw, ch), (cr2, cw, ch)]
        hmax = vmax = 2
    out = _headers(w, h, comps, 0)
    bw = _BitWriter()
    preds = [0, 0, 0]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (cid, hs, vs) in enumerate(comps):
                plane, pw, ph = planes[ci]
                for by in range(vs):
                    for bx in range(hs):
                        preds[ci] = _encode_block(
                            bw,
                            _block_at(
                                plane, pw, ph,
                                (mx * hs + bx) * 8, (my * vs + by) * 8,
                            ),
                            preds[ci],
                        )
    bw.flush()
    return bytes(out + bw.out + b"\xff\xd9")
