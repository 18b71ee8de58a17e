"""Pure-Python baseline JPEG (ITU T.81) codec — grayscale AND YCbCr color.

No image codec library is a dependency, so the codec is in-repo.  It
is outside the BM25 engine's scope (the reference never decodes
pixels); nothing in the build or query path imports it.

Decoder (`decode_jpeg`): baseline sequential DCT (SOF0) AND
progressive (SOF2, full annex G: spectral selection + successive
approximation, DC/AC first and refinement scans, EOB runs), 8-bit;
1 component → grayscale, 3 components → YCbCr→RGB with any integer
sampling (4:4:4 / 4:2:2 / 4:2:0); restart intervals in both
processes.  Adobe APP14 color models (the most common remaining
real-web variant): 4-component CMYK (transform 0) and YCCK
(transform 2) decode to RGB via the inverted-ink composite, and
3-component transform 0 is RGB stored directly.  Everything else —
arithmetic coding, hierarchical, lossless, 4 components without an
APP14 marker (ink polarity unknowable) — raises ``JpegError`` with
the exact reason: the codec boundary stays explicit, it just moved
(again).

Encoders (`encode_jpeg_gray`, `encode_jpeg_color`,
`encode_jpeg_progressive`): same subset, standard Annex K quantization
+ Huffman tables (overridable; progressive AC scans use a generic
all-symbols table since Annex K lacks EOBn codes) — used by tests;
all-ones quantization roundtrips within ±1 grey level for grayscale,
and a progressive encoding decodes BIT-IDENTICALLY to the baseline
encoding at the same quantization (same coefficients, different
transport; asserted in tests).

Deterministic pure functions of the bytes (per-row invariance like
extract_text).  numpy does the 8×8 DCT as two matrix products.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegError(ValueError):
    pass


#: ITU T.81 Annex K.1 — standard luminance quantization table
STD_LUMA_Q = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

#: Annex K.3 — luminance DC Huffman spec (BITS per code length 1..16 + values)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
#: Annex K.3 — luminance AC Huffman spec
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# orthonormal 8-point DCT-II basis; IDCT = C.T @ B @ C, FDCT = C @ b @ C.T
_C = np.array([
    [np.cos(np.pi * (2 * n + 1) * k / 16.0)
     * (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
     for n in range(8)]
    for k in range(8)
])

# extended/lossless/arithmetic SOF markers → explicit error
# (0xC0 baseline and 0xC2 progressive are the supported processes)
_UNSUPPORTED_SOF = frozenset(
    [0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF]
)


def _build_huff(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman spec → {(length, code): value}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[i]
            i += 1
            code += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first entropy-data reader with 0xFF00 byte-unstuffing; a real
    marker stops consumption (trailing reads pad with zeros, per T.81
    the final EOB never needs them).  ``restart()`` consumes an RSTn
    marker at the stop point and resumes — the DRI path."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bitbuf = 0
        self.nbits = 0
        self.stopped = False

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.stopped or self.pos >= len(self.data):
                self.bitbuf <<= 8
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = (
                    self.data[self.pos + 1]
                    if self.pos + 1 < len(self.data) else 0
                )
                if nxt != 0x00:  # marker — stop consuming (pos stays on it)
                    self.stopped = True
                    continue
                self.pos += 1  # stuffed 0xFF data byte
            self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def restart(self) -> None:
        """Byte-align at an expected RSTn marker, consume it, resume
        (T.81 E.2.4: entropy coding re-initializes per interval)."""
        self.bitbuf = 0
        self.nbits = 0
        # skip any not-yet-prefetched padding bytes up to the marker
        # (stuffed FF00 pairs advance byte-by-byte and are never
        # mistaken for a marker)
        while self.pos + 1 < len(self.data) and not (
            self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00
        ):
            self.pos += 1
        if (
            self.pos + 1 >= len(self.data)
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise JpegError("expected restart marker in entropy data")
        self.pos += 2
        self.stopped = False

    def get(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.bitbuf >> self.nbits) & ((1 << n) - 1)

    def decode_huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.get(1)
            v = table.get((length, code))
            if v is not None:
                return v
        raise JpegError("invalid Huffman code in entropy data")


def _extend(v: int, s: int) -> int:
    """T.81 F.12 EXTEND: low-order magnitude bits → signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block(br: _BitReader, dc_t: dict, ac_t: dict, q: np.ndarray,
                  pred: int) -> tuple[np.ndarray, int]:
    """Decode one 8×8 block (T.81 F.12/F.13) → (+128-level float pixels,
    new DC predictor)."""
    coef = np.zeros(64, dtype=np.int64)
    t = br.decode_huff(dc_t)
    pred += _extend(br.get(t), t)
    coef[0] = pred
    k = 1
    while k < 64:  # T.81 F.13 AC decode: (run, size) pairs
        rs = br.decode_huff(ac_t)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise JpegError("AC coefficient index overflow")
        coef[k] = _extend(br.get(s), s)
        k += 1
    block = np.zeros(64)
    block[_ZIGZAG] = (coef * q).astype(np.float64)
    return _C.T @ block.reshape(8, 8) @ _C + 128.0, pred


# --- progressive (SOF2) scan decoding, T.81 annex G ---------------------------


def _entropy_end(payload: bytes, start: int) -> int:
    """Index just past a scan's entropy data: the next marker that is
    neither a stuffed 0xFF00 nor an RSTn."""
    i = start
    n = len(payload)
    while i + 1 < n:
        if payload[i] == 0xFF and payload[i + 1] != 0x00:
            if 0xD0 <= payload[i + 1] <= 0xD7:
                i += 2
                continue
            return i
        i += 1
    return n


def _dc_first_block(br, dc_t, co, al, pred):
    t = br.decode_huff(dc_t)
    pred += _extend(br.get(t), t)
    co[0] = pred << al
    return pred


def _ac_first_block(br, ac_t, co, ss, se, al, eobrun):
    """T.81 G.1.2.2 / G.2: first AC scan of a band with EOB runs."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = br.decode_huff(ac_t)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.get(r)
            break
        k += r
        if k > se:
            raise JpegError("AC coefficient index overflow in scan band")
        co[k] = _extend(br.get(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(br, ac_t, co, ss, se, al, eobrun):
    """T.81 G.1.2.3: successive-approximation AC refinement — new ±1
    coefficients at this bit position plus correction bits for every
    already-nonzero coefficient passed over."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = br.decode_huff(ac_t)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    # EOB run INCLUDES the current block, whose remaining
                    # positions still need their correction bits (the
                    # `if eobrun` phase below) — unlike first scans,
                    # where the current block simply ends (libjpeg:
                    # EOBRUN = 1<<r, decremented after the tail pass)
                    eobrun = 1 << r
                    if r:
                        eobrun += br.get(r)
                    break  # rest of the band is EOB-refinement below
                val = 0  # ZRL: run of 16 zero-history positions
            else:
                if s != 1:
                    raise JpegError("invalid AC refinement magnitude")
                val = p1 if br.get(1) else m1
            while k <= se:
                if co[k] != 0:
                    if br.get(1) and (co[k] & p1) == 0:
                        co[k] += p1 if co[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                co[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if co[k] != 0:
                if br.get(1) and (co[k] & p1) == 0:
                    co[k] += p1 if co[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_prog_scan(br, scan, coefs, htables, restart_interval):
    """One progressive scan over its block geometry.  ``scan`` carries
    (comps, ss, se, ah, al); DC scans may interleave several
    components, AC scans are single-component (T.81 G.1.1)."""
    comps, ss, se, ah, al = scan
    if ss == 0:  # DC scan (first or refinement), possibly interleaved
        preds = [0] * len(comps)
        mcu_i = 0
        if len(comps) == 1:
            c = comps[0]
            grid = [(0, 0, by, bx, c) for by in range(c["nby"])
                    for bx in range(c["nbx"])]
            # non-interleaved: one block per MCU
            for (my, mx, by, bx, c) in grid:
                if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                    br.restart()
                    preds = [0]
                mcu_i += 1
                co = coefs[c["ci"]][by, bx]
                if ah == 0:
                    preds[0] = _dc_first_block(
                        br, htables[(0, c["dc"])], co, al, preds[0]
                    )
                elif br.get(1):
                    co[0] |= 1 << al
        else:
            mcux, mcuy = comps[0]["mcux"], comps[0]["mcuy"]
            for my in range(mcuy):
                for mx in range(mcux):
                    if (restart_interval and mcu_i
                            and mcu_i % restart_interval == 0):
                        br.restart()
                        preds = [0] * len(comps)
                    mcu_i += 1
                    for si, c in enumerate(comps):
                        for byi in range(c["vs"]):
                            for bxi in range(c["hs"]):
                                co = coefs[c["ci"]][
                                    my * c["vs"] + byi, mx * c["hs"] + bxi
                                ]
                                if ah == 0:
                                    preds[si] = _dc_first_block(
                                        br, htables[(0, c["dc"])], co, al,
                                        preds[si],
                                    )
                                elif br.get(1):
                                    co[0] |= 1 << al
        return
    if len(comps) != 1:
        raise JpegError("progressive AC scans must be single-component")
    c = comps[0]
    ac_t = htables.get((1, c["ac"]))
    if ac_t is None:
        raise JpegError("missing Huffman table for AC scan")
    eobrun = 0
    blk_i = 0
    for by in range(c["nby"]):
        for bx in range(c["nbx"]):
            if restart_interval and blk_i and blk_i % restart_interval == 0:
                br.restart()
                eobrun = 0
            blk_i += 1
            co = coefs[c["ci"]][by, bx]
            if ah == 0:
                eobrun = _ac_first_block(br, ac_t, co, ss, se, al, eobrun)
            else:
                eobrun = _ac_refine_block(br, ac_t, co, ss, se, al, eobrun)


def _finish_planes(planes, comps, h, w, hmax, vmax, adobe_transform=None):
    """Crop/upsample decoded component planes and color-convert.

    ``adobe_transform`` is the APP14 transform byte (None when the
    marker is absent): 3 components decode as JFIF YCbCr unless
    transform 0 says RGB-stored-directly; 4 components REQUIRE the
    marker (Adobe Postscript tech note 5116 — the only in-the-wild
    CMYK convention) and decode transform 0 (CMYK) or 2 (YCCK) to RGB
    via the inverted-ink composite rgb = stored_cmy * stored_k / 255
    (Adobe stores ink inverted: 0 = full coverage — the same composite
    libjpeg-based viewers apply)."""
    if len(comps) == 1:
        out = np.clip(np.round(planes[0][:h, :w]), 0, 255).astype(np.uint8)
        return out[:, :, None]
    # upsample chroma by replication
    full = []
    for ci, c in enumerate(comps):
        p = np.repeat(
            np.repeat(planes[ci], vmax // c["vs"], axis=0),
            hmax // c["hs"], axis=1,
        )
        full.append(p[:h, :w])
    if len(comps) == 4:
        if adobe_transform is None:
            raise JpegError(
                "4-component JPEG without an Adobe APP14 marker "
                "(CMYK ink polarity unknowable)"
            )
        if adobe_transform == 2:  # YCCK: YCbCr transform of inverted CMY
            y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
            sc = y + 1.402 * cr
            sm = y - 0.344136 * cb - 0.714136 * cr
            sy = y + 1.772 * cb
        elif adobe_transform == 0:  # CMYK stored directly (inverted)
            sc, sm, sy = full[0], full[1], full[2]
        else:
            raise JpegError(
                f"Adobe APP14 transform {adobe_transform} invalid for "
                "4 components (0 = CMYK, 2 = YCCK)"
            )
        cmy = np.clip(np.stack([sc, sm, sy], axis=2), 0.0, 255.0)
        k = np.clip(full[3], 0.0, 255.0)[:, :, None]
        return np.clip(np.round(cmy * k / 255.0), 0, 255).astype(np.uint8)
    if adobe_transform == 0:  # Adobe RGB: no color transform
        rgb = np.stack(full, axis=2)
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG bytes -> (height, width, channels) uint8.

    Baseline sequential (SOF0) AND progressive (SOF2, T.81 annex G:
    spectral selection + successive approximation, DC/AC first and
    refinement scans, EOB runs).  1 component -> grayscale
    (channels=1); 3 components -> YCbCr decoded to RGB (channels=3),
    any integer sampling ratio (4:4:4, 4:2:2, 4:2:0, ...).  Chroma is
    upsampled by sample replication (the JFIF baseline); restart
    intervals (DRI + RSTn resync, T.81 E.2.4) are honored in both
    processes.  Adobe APP14 variants: 4 components decode as CMYK
    (transform 0) or YCCK (transform 2) to RGB channels=3, and
    3-component transform 0 as stored RGB.  Arithmetic coding, 12-bit
    and 4 components WITHOUT an APP14 marker still raise ``JpegError``
    with the exact reason."""
    if not payload or payload[:2] != b"\xff\xd8":
        raise JpegError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    h = w = scan_start = None
    restart_interval = 0
    progressive = False
    coefs = None  # progressive: per-comp (by, bx, 64) zigzag coef grids
    hmax = vmax = 1
    adobe_transform = None  # APP14 transform byte (None = marker absent)
    comps: list[dict] = []  # SOF order: {id, hs, vs, tq, dc, ac}
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise JpegError("marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        data = payload[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables in one segment)
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                if pq != 0:
                    raise JpegError("16-bit quantization tables unsupported")
                qtables[tq] = np.frombuffer(
                    data[i + 1:i + 65], dtype=np.uint8
                ).astype(np.int32)
                i += 65
        elif marker in _UNSUPPORTED_SOF:
            raise JpegError(
                f"only baseline sequential (SOF0) and progressive (SOF2) "
                f"supported, got SOF marker 0x{marker:02x}"
            )
        elif marker in (0xC0, 0xC2):  # SOF0 / SOF2
            progressive = marker == 0xC2
            if data[0] != 8:
                raise JpegError("8-bit sample precision only")
            h = struct.unpack(">H", data[1:3])[0]
            w = struct.unpack(">H", data[3:5])[0]
            n_comp = data[5]
            if n_comp not in (1, 3, 4):
                raise JpegError(
                    f"{n_comp}-component images unsupported (grayscale, "
                    "YCbCr/RGB or Adobe CMYK/YCCK only)"
                )
            for i in range(n_comp):
                o = 6 + 3 * i
                comps.append({
                    "id": data[o], "hs": data[o + 1] >> 4,
                    "vs": data[o + 1] & 15, "tq": data[o + 2],
                })
        elif marker == 0xC4:  # DHT (possibly several tables in one segment)
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                bits = list(data[i + 1:i + 17])
                n = sum(bits)
                htables[(tc, th)] = _build_huff(bits, list(data[i + 17:i + 17 + n]))
                i += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", data[:2])[0]
        elif marker == 0xEE and data[:5] == b"Adobe" and len(data) >= 12:
            # APP14 (Adobe tech note 5116): "Adobe" + version(2) +
            # flags0(2) + flags1(2) + color-transform byte
            adobe_transform = data[11]
        elif marker == 0xDA:  # SOS
            if not comps:
                raise JpegError("SOS before SOF")
            ns = data[0]
            by_id = {c["id"]: c for c in comps}
            if not progressive:
                if ns != len(comps):
                    raise JpegError("single interleaved scan only")
                for i in range(ns):
                    c = by_id.get(data[1 + 2 * i])
                    if c is None:
                        raise JpegError("SOS references unknown component")
                    c["dc"] = data[2 + 2 * i] >> 4
                    c["ac"] = data[2 + 2 * i] & 15
                scan_start = pos + 2 + seg_len
                break
            # progressive: lazily set up geometry + coefficient grids
            if coefs is None:
                hmax = max(c["hs"] for c in comps)
                vmax = max(c["vs"] for c in comps)
                if len(comps) == 1:
                    comps[0]["hs"] = comps[0]["vs"] = hmax = vmax = 1
                mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
                for ci, c in enumerate(comps):
                    if (c["hs"] < 1 or c["vs"] < 1
                            or hmax % c["hs"] or vmax % c["vs"]):
                        raise JpegError(
                            "non-integer chroma sampling ratio unsupported"
                        )
                    c["ci"] = ci
                    c["mcux"], c["mcuy"] = mcux, mcuy
                    comp_w = -(-w * c["hs"] // hmax)
                    comp_h = -(-h * c["vs"] // vmax)
                    c["nbx"], c["nby"] = -(-comp_w // 8), -(-comp_h // 8)
                coefs = [
                    np.zeros((mcuy * c["vs"], mcux * c["hs"], 64), np.int32)
                    for c in comps
                ]
            scan_comps = []
            for i in range(ns):
                c = by_id.get(data[1 + 2 * i])
                if c is None:
                    raise JpegError("SOS references unknown component")
                c["dc"] = data[2 + 2 * i] >> 4
                c["ac"] = data[2 + 2 * i] & 15
                scan_comps.append(c)
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ah, al = data[3 + 2 * ns] >> 4, data[3 + 2 * ns] & 15
            if ss == 0 and se != 0:
                raise JpegError("DC scan must have Se=0")
            start = pos + 2 + seg_len
            end = _entropy_end(payload, start)
            if ss == 0 and ah == 0:
                for c in scan_comps:
                    if htables.get((0, c["dc"])) is None:
                        raise JpegError("missing Huffman table for DC scan")
            _decode_prog_scan(
                _BitReader(payload[start:end]),
                (scan_comps, ss, se, ah, al),
                coefs, dict(htables), restart_interval,
            )
            scan_start = start
            pos = end
            continue
        pos += 2 + seg_len

    if h is None or scan_start is None or not comps:
        raise JpegError("missing SOF0 or SOS")

    if progressive:
        planes = []
        for ci, c in enumerate(comps):
            q = qtables.get(c["tq"])
            if q is None:
                raise JpegError("missing Huffman or quantization table")
            cf = coefs[ci].astype(np.float64)
            by, bx = cf.shape[:2]
            nat = np.zeros((by * bx, 64))
            nat[:, _ZIGZAG] = (cf * q).reshape(-1, 64)
            # same chained-matmul order as the sequential per-block
            # path: a different contraction order (einsum) rounds
            # differently at .5 boundaries and breaks bit-identity
            blocks = _C.T @ nat.reshape(-1, 8, 8) @ _C + 128.0
            planes.append(
                blocks.reshape(by, bx, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(by * 8, bx * 8)
            )
        return _finish_planes(planes, comps, h, w, hmax, vmax,
                              adobe_transform)

    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    if len(comps) == 1:
        # a single-component scan is non-interleaved: MCU = one block
        comps[0]["hs"] = comps[0]["vs"] = hmax = vmax = 1
    for c in comps:
        if c["hs"] < 1 or c["vs"] < 1 or hmax % c["hs"] or vmax % c["vs"]:
            raise JpegError("non-integer chroma sampling ratio unsupported")
        c["dc_t"] = htables.get((0, c.get("dc", 0)))
        c["ac_t"] = htables.get((1, c.get("ac", 0)))
        c["q"] = qtables.get(c["tq"])
        if c["dc_t"] is None or c["ac_t"] is None or c["q"] is None:
            raise JpegError("missing Huffman or quantization table")

    br = _BitReader(payload[scan_start:])
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = [
        np.zeros((mcuy * c["vs"] * 8, mcux * c["hs"] * 8)) for c in comps
    ]
    preds = [0] * len(comps)
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                br.restart()
                preds = [0] * len(comps)
            mcu_i += 1
            for ci, c in enumerate(comps):
                for byi in range(c["vs"]):
                    for bxi in range(c["hs"]):
                        pix, preds[ci] = _decode_block(
                            br, c["dc_t"], c["ac_t"], c["q"], preds[ci]
                        )
                        y0 = (my * c["vs"] + byi) * 8
                        x0 = (mx * c["hs"] + bxi) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = pix

    return _finish_planes(planes, comps, h, w, hmax, vmax, adobe_transform)

def decode_jpeg_gray(payload: bytes) -> np.ndarray:
    """Baseline grayscale JPEG bytes → (height, width, 1) uint8.
    Color payloads raise (use ``decode_jpeg`` for 3-component YCbCr)."""
    out = decode_jpeg(payload)
    if out.shape[2] != 1:
        raise JpegError("grayscale (1 component) only — use decode_jpeg")
    return out


# --- encoder (test fixtures / synthetic corpora) ------------------------------


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-padding per T.81 F.1.2.3


def _inv_huff(bits: list[int], vals: list[int]) -> dict:
    enc: dict[int, tuple[int, int]] = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[i]] = (code, length)
            i += 1
            code += 1
        code <<= 1
    return enc


def _emit_restart(bw: "_BitWriter", idx: int) -> None:
    """1-pad to the byte boundary, then write RST(idx mod 8) raw (a
    marker is never byte-stuffed)."""
    bw.flush()
    bw.buf.extend(bytes([0xFF, 0xD0 + (idx % 8)]))


def _size_cat(v: int) -> int:
    mag = abs(v)
    s = 0
    while mag:
        mag >>= 1
        s += 1
    return s


def encode_jpeg_gray(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """(h, w[, 1]) uint8 → baseline grayscale JPEG bytes (Annex K
    tables; pass ``qtable=np.ones((8, 8))`` for a near-lossless (±1)
    roundtrip).  ``restart_interval`` > 0 emits DRI + RSTn markers
    every that many MCUs (decoder resync test vectors)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 3:
        img = img[:, :, 0]
    h, w = img.shape
    q = STD_LUMA_Q if qtable is None else np.asarray(qtable, dtype=np.int32)
    qz = q.reshape(64)[_ZIGZAG]  # DQT payload is in zigzag order

    dc_enc = _inv_huff(DC_BITS, DC_VALS)
    ac_enc = _inv_huff(AC_BITS, AC_VALS)

    by, bx = -(-h // 8), -(-w // 8)
    pad = np.pad(img, ((0, by * 8 - h), (0, bx * 8 - w)), mode="edge").astype(np.float64)

    bw = _BitWriter()
    pred = 0
    mcu_i = 0
    for byi in range(by):
        for bxi in range(bx):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                _emit_restart(bw, mcu_i // restart_interval - 1)
                pred = 0
            mcu_i += 1
            pred = _encode_block(
                bw, pad[byi * 8:(byi + 1) * 8, bxi * 8:(bxi + 1) * 8] - 128.0,
                q, dc_enc, ac_enc, pred,
            )
    bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0x00]) + bytes(int(x) & 0xFF for x in qz))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]))
    seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
    seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out.extend(bw.buf)
    out.extend(b"\xff\xd9")
    return bytes(out)


#: ITU T.81 Annex K.1 — standard chrominance quantization table
STD_CHROMA_Q = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

#: Annex K.3 — chrominance DC/AC Huffman specs
DC_C_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_C_VALS = list(range(12))
AC_C_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_C_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _encode_block(bw: _BitWriter, blk: np.ndarray, q: np.ndarray,
                  dc_enc: dict, ac_enc: dict, pred: int) -> int:
    """FDCT + quantize + entropy-code one 8×8 (level-shifted input)."""
    qc = np.round((_C @ blk @ _C.T) / q).astype(np.int64)
    zz = qc.reshape(64)[_ZIGZAG]
    diff = int(zz[0]) - pred
    s = _size_cat(diff)
    code, length = dc_enc[s]
    bw.put(code, length)
    if s:
        bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    nz = np.nonzero(zz[1:])[0]
    last_nz = int(nz[-1]) + 1 if nz.size else 0
    run = 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.put(*ac_enc[0xF0])  # ZRL
            run -= 16
        s = _size_cat(v)
        bw.put(*ac_enc[(run << 4) | s])
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        bw.put(*ac_enc[0x00])  # EOB
    return int(zz[0])


def encode_jpeg_color(
    img: np.ndarray,
    sampling: tuple[int, int] = (2, 2),
    luma_q: np.ndarray | None = None,
    chroma_q: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB → baseline sequential YCbCr JPEG bytes.

    ``sampling=(h, v)`` is the LUMA sampling factor (chroma is 1×1), so
    (2, 2) = 4:2:0, (2, 1) = 4:2:2, (1, 1) = 4:4:4.  Chroma planes are
    box-averaged before encoding.  Annex K luma + chroma quantization
    and Huffman tables by default; pass all-ones tables for a
    near-lossless roundtrip (YCbCr + DCT rounding only)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise JpegError("encode_jpeg_color needs (h, w, 3) RGB")
    hs, vs = sampling
    if hs not in (1, 2, 4) or vs not in (1, 2, 4):
        raise JpegError("luma sampling factors must be 1, 2 or 4")
    h, w = img.shape[:2]
    ql = STD_LUMA_Q if luma_q is None else np.asarray(luma_q, dtype=np.int32)
    qc = STD_CHROMA_Q if chroma_q is None else np.asarray(chroma_q, dtype=np.int32)

    r = img[:, :, 0].astype(np.float64)
    g = img[:, :, 1].astype(np.float64)
    b = img[:, :, 2].astype(np.float64)
    # JFIF RGB → YCbCr
    planes_full = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]

    mcuw, mcuh = 8 * hs, 8 * vs
    mcux, mcuy = -(-w // mcuw), -(-h // mcuh)
    pad_full = [
        np.pad(p, ((0, mcuy * mcuh - h), (0, mcux * mcuw - w)), mode="edge")
        for p in planes_full
    ]
    # chroma: box-average subsample to the 1×1 grid
    sub = [pad_full[0]]
    for p in pad_full[1:]:
        sub.append(
            p.reshape(mcuy * 8, vs, mcux * 8, hs).mean(axis=(1, 3))
        )

    dc_l, ac_l = _inv_huff(DC_BITS, DC_VALS), _inv_huff(AC_BITS, AC_VALS)
    dc_c, ac_c = _inv_huff(DC_C_BITS, DC_C_VALS), _inv_huff(AC_C_BITS, AC_C_VALS)
    spec = [  # (plane, hs, vs, qtable, dc table, ac table)
        (sub[0], hs, vs, ql, dc_l, ac_l),
        (sub[1], 1, 1, qc, dc_c, ac_c),
        (sub[2], 1, 1, qc, dc_c, ac_c),
    ]
    bw = _BitWriter()
    preds = [0, 0, 0]
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                _emit_restart(bw, mcu_i // restart_interval - 1)
                preds = [0, 0, 0]
            mcu_i += 1
            for ci, (plane, chs, cvs, q, de, ae) in enumerate(spec):
                for byi in range(cvs):
                    for bxi in range(chs):
                        y0 = (my * cvs + byi) * 8
                        x0 = (mx * chs + bxi) * 8
                        preds[ci] = _encode_block(
                            bw, plane[y0:y0 + 8, x0:x0 + 8] - 128.0,
                            q, de, ae, preds[ci],
                        )
    bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0x00]) + bytes(int(x) & 0xFF for x in ql.reshape(64)[_ZIGZAG]))
    seg(0xDB, bytes([0x01]) + bytes(int(x) & 0xFF for x in qc.reshape(64)[_ZIGZAG]))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes(
        [3, 1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1]
    ))
    seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
    seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    seg(0xC4, bytes([0x01]) + bytes(DC_C_BITS) + bytes(DC_C_VALS))
    seg(0xC4, bytes([0x11]) + bytes(AC_C_BITS) + bytes(AC_C_VALS))
    seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out.extend(bw.buf)
    out.extend(b"\xff\xd9")
    return bytes(out)


def encode_jpeg_adobe(
    img: np.ndarray,
    transform: int | None = None,
    luma_q: np.ndarray | None = None,
    chroma_q: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3|4) uint8 → baseline 4:4:4 JPEG with an Adobe APP14
    marker — the fixture encoder for the Adobe color-model variants.

    3 channels + transform 0: RGB stored directly (no color
    transform).  4 channels + transform 0: CMYK stored directly;
    transform 2: YCCK (the RGB→YCbCr forward transform applied to
    channels 0-2, K untouched).  4-channel inputs are in Adobe's
    STORED (inverted) convention — 0 = full ink — which is exactly
    what ``decode_jpeg`` composites back to RGB."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise JpegError("encode_jpeg_adobe needs (h, w, 3) or (h, w, 4)")
    nc = img.shape[2]
    if transform is None:
        transform = 0 if nc == 3 else 2
    if nc == 3 and transform != 0:
        raise JpegError(
            "3-channel Adobe fixture supports transform 0 (RGB) only — "
            "use encode_jpeg_color for YCbCr"
        )
    if nc == 4 and transform not in (0, 2):
        raise JpegError("4-channel Adobe transform must be 0 (CMYK) or 2 (YCCK)")
    h, w = img.shape[:2]
    ql = STD_LUMA_Q if luma_q is None else np.asarray(luma_q, dtype=np.int32)
    qc = STD_CHROMA_Q if chroma_q is None else np.asarray(chroma_q, dtype=np.int32)

    planes = [img[:, :, i].astype(np.float64) for i in range(nc)]
    use_chroma = [False] * nc
    if nc == 4 and transform == 2:
        c0, c1, c2 = planes[0], planes[1], planes[2]
        planes = [
            0.299 * c0 + 0.587 * c1 + 0.114 * c2,
            -0.168736 * c0 - 0.331264 * c1 + 0.5 * c2 + 128.0,
            0.5 * c0 - 0.418688 * c1 - 0.081312 * c2 + 128.0,
            planes[3],
        ]
        use_chroma = [False, True, True, False]

    mcux, mcuy = -(-w // 8), -(-h // 8)
    pad = [
        np.pad(p, ((0, mcuy * 8 - h), (0, mcux * 8 - w)), mode="edge")
        for p in planes
    ]

    dc_l, ac_l = _inv_huff(DC_BITS, DC_VALS), _inv_huff(AC_BITS, AC_VALS)
    dc_c, ac_c = _inv_huff(DC_C_BITS, DC_C_VALS), _inv_huff(AC_C_BITS, AC_C_VALS)
    spec = [
        (pad[i], qc if use_chroma[i] else ql,
         dc_c if use_chroma[i] else dc_l, ac_c if use_chroma[i] else ac_l)
        for i in range(nc)
    ]
    bw = _BitWriter()
    preds = [0] * nc
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                _emit_restart(bw, mcu_i // restart_interval - 1)
                preds = [0] * nc
            mcu_i += 1
            for ci, (plane, q, de, ae) in enumerate(spec):
                y0, x0 = my * 8, mx * 8
                preds[ci] = _encode_block(
                    bw, plane[y0:y0 + 8, x0:x0 + 8] - 128.0, q, de, ae,
                    preds[ci],
                )
    bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    # APP14 "Adobe": version 100, flags 0/0, color-transform byte
    seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, transform))
    seg(0xDB, bytes([0x00]) + bytes(int(x) & 0xFF for x in ql.reshape(64)[_ZIGZAG]))
    if any(use_chroma):
        seg(0xDB, bytes([0x01]) + bytes(int(x) & 0xFF for x in qc.reshape(64)[_ZIGZAG]))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([nc]) + b"".join(
        bytes([i + 1, 0x11, 1 if use_chroma[i] else 0]) for i in range(nc)
    ))
    seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
    seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    if any(use_chroma):
        seg(0xC4, bytes([0x01]) + bytes(DC_C_BITS) + bytes(DC_C_VALS))
        seg(0xC4, bytes([0x11]) + bytes(AC_C_BITS) + bytes(AC_C_VALS))
    seg(0xDA, bytes([nc]) + b"".join(
        bytes([i + 1, 0x11 if use_chroma[i] else 0x00]) for i in range(nc)
    ) + bytes([0, 63, 0]))
    out.extend(bw.buf)
    out.extend(b"\xff\xd9")
    return bytes(out)


def jpeg_feature_extractor(dim: int = 16):
    """Real pixel-level extractor for baseline JPEG payloads (grayscale
    OR YCbCr color): normalized luminance histogram over ``dim`` bins,
    as a ``bytes -> np.ndarray`` function."""

    def fn(payload: bytes) -> np.ndarray:
        img = decode_jpeg(payload).astype(np.float64)
        if img.shape[2] == 3:  # BT.601 luma, same weights as the encoder
            luma = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
        else:
            luma = img[:, :, 0]
        hist, _ = np.histogram(luma, bins=dim, range=(0, 256))
        return (hist / luma.size).astype(np.float32)

    return fn


# --- progressive encoder (test vectors for every annex-G scan type) -----------

#: generic AC Huffman spec for progressive scans: all 256 rs symbols
#: (Annex K tables lack the EOBn symbols progressive scans emit);
#: canonical, 255 codes of length 9 + 1 of length 10 — never all-ones
_AC_P_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0]
_AC_P_VALS = list(range(256))


class _ProgWriter:
    """Scan-scoped progressive entropy writer: wraps _BitWriter with the
    EOB-run counter and the buffered correction bits that AC refinement
    scans carry ACROSS blocks (T.81 G.1.2.2-3 / libjpeg BE buffer)."""

    def __init__(self):
        self.bw = _BitWriter()
        self.ac_enc = _inv_huff(_AC_P_BITS, _AC_P_VALS)
        self.dc_enc = _inv_huff(DC_BITS, DC_VALS)
        self.eobrun = 0
        self.bits: list[int] = []  # buffered correction bits

    def emit_eobrun(self) -> None:
        if self.eobrun > 0:
            e = self.eobrun.bit_length() - 1
            self.bw.put(*self.ac_enc[e << 4])
            if e:
                self.bw.put(self.eobrun - (1 << e), e)
            self.eobrun = 0
        for b in self.bits:
            self.bw.put(b, 1)
        self.bits = []

    def finish_scan(self) -> bytes:
        self.emit_eobrun()
        self.bw.flush()
        return bytes(self.bw.buf)


def _enc_dc_first(pw, coefs_dc, al):
    """DC first scan over blocks in order; DC point transform is an
    ARITHMETIC shift (G.1.2.1)."""
    pred = 0
    for v in coefs_dc:
        d = (int(v) >> al) - pred
        pred = int(v) >> al
        s = _size_cat(d)
        pw.bw.put(*pw.dc_enc[s])
        if s:
            pw.bw.put(d if d >= 0 else d + (1 << s) - 1, s)


def _enc_dc_refine(pw, coefs_dc, al):
    for v in coefs_dc:
        pw.bw.put((int(v) >> al) & 1, 1)


def _enc_ac_first(pw, blocks, ss, se, al):
    """AC first scan of a band: magnitude (toward-zero) point transform,
    zero runs batched into EOB runs across blocks."""
    for co in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(co[k])
            t = (abs(v) >> al)
            if t == 0:
                r += 1
                continue
            pw.emit_eobrun()
            while r > 15:
                pw.bw.put(*pw.ac_enc[0xF0])
                r -= 16
            s = _size_cat(t)
            vv = t if v >= 0 else -t
            pw.bw.put(*pw.ac_enc[(r << 4) | s])
            pw.bw.put(vv if vv >= 0 else vv + (1 << s) - 1, s)
            r = 0
        if r > 0:
            pw.eobrun += 1
            if pw.eobrun == 0x7FFF:
                pw.emit_eobrun()


def _enc_ac_refine(pw, blocks, ss, se, al):
    """AC refinement scan (G.1.2.3): ±1 for newly-significant
    coefficients at this bit, correction bits for already-sent ones."""
    for co in blocks:
        absv = [abs(int(co[k])) >> al for k in range(ss, se + 1)]
        eob_i = -1  # band index of the LAST newly-significant coefficient
        for i, t in enumerate(absv):
            if t == 1:
                eob_i = i
        r = 0
        pending: list[int] = []  # correction bits since the last symbol
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            # ZRLs are emitted at ANY nonzero position (libjpeg
            # encode_mcu_AC_refine): deferring them past a
            # history-nonzero coefficient would attach its correction
            # bit to the wrong 16-zero window and desync the decoder.
            # Runs beyond the last new coefficient fold into the EOB run.
            while r > 15 and i <= eob_i:
                pw.emit_eobrun()
                pw.bw.put(*pw.ac_enc[0xF0])
                r -= 16
                for b in pending:
                    pw.bw.put(b, 1)
                pending = []
            if t > 1:  # history-nonzero: buffer its correction bit
                pending.append(t & 1)
                continue
            # newly significant (t == 1)
            pw.emit_eobrun()
            pw.bw.put(*pw.ac_enc[(r << 4) | 1])
            pw.bw.put(1 if int(co[ss + i]) >= 0 else 0, 1)
            for b in pending:
                pw.bw.put(b, 1)
            pending = []
            r = 0
        if r > 0 or pending:
            pw.eobrun += 1
            pw.bits.extend(pending)
            if pw.eobrun == 0x7FFF or len(pw.bits) > 900:
                pw.emit_eobrun()


def encode_jpeg_progressive(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    sampling: tuple[int, int] = (1, 1),
) -> bytes:
    """(h, w[, 1|3]) uint8 -> progressive (SOF2) JPEG bytes exercising
    every annex-G scan type: interleaved DC first with point transform
    (Al=1), DC refinement, per-component per-band AC first scans (Al=1)
    and AC refinement scans (Ah=1->Al=0) with cross-block EOB runs.

    ``sampling`` is the LUMA factor for color images ((2, 2) = 4:2:0,
    the layout real progressive photos use; chroma is 1x1 and
    box-averaged exactly like encode_jpeg_color).  The decoded result
    is IDENTICAL to the baseline encoding at the same quantization and
    sampling (same coefficients, different transport)."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2 or img.shape[2] == 1
    q = STD_LUMA_Q if qtable is None else np.asarray(qtable, dtype=np.int32)
    qz = q.reshape(64)[_ZIGZAG]
    hs, vs = (1, 1) if gray else sampling

    if gray:
        planes_full = [np.asarray(
            img[:, :, 0] if img.ndim == 3 else img, dtype=np.float64
        )]
    else:
        r = img[:, :, 0].astype(np.float64)
        g = img[:, :, 1].astype(np.float64)
        b = img[:, :, 2].astype(np.float64)
        # float planes, NO rounding -- exactly encode_jpeg_color's
        # conversion, so the quantized coefficients (and hence the
        # decoded pixels) are identical to the baseline encoding
        planes_full = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    h, w = planes_full[0].shape
    mcuw, mcuh = 8 * hs, 8 * vs
    mcux, mcuy = -(-w // mcuw), -(-h // mcuh)

    # per-component planes at the interleaved grid size; chroma is
    # box-averaged from the MCU-padded full plane (encode_jpeg_color's
    # exact arithmetic)
    pad_full = [
        np.pad(p, ((0, mcuy * mcuh - h), (0, mcux * mcuw - w)), mode="edge")
        for p in planes_full
    ]
    spec = []  # (grid coefs (gy,gx,64) zigzag, chs, cvs, nbx, nby)
    for ci, p in enumerate(pad_full):
        if ci == 0:
            chs, cvs = hs, vs
            plane = p
            comp_w, comp_h = w, h
        else:
            chs = cvs = 1
            plane = p.reshape(mcuy * 8, vs, mcux * 8, hs).mean(axis=(1, 3))
            comp_w, comp_h = -(-w // hs), -(-h // vs)
        gy, gx = mcuy * cvs, mcux * chs
        blocks = (
            (plane - 128.0)
            .reshape(gy, 8, gx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        # chained matmul, NOT einsum: einsum's contraction order differs
        # in float and occasionally rounds a quantized coefficient one
        # step away from the baseline encoder's, breaking bit-identity
        fd = _C @ blocks @ _C.T
        qc = np.round(fd / q).reshape(-1, 64).astype(np.int32)
        grid = qc[:, _ZIGZAG].reshape(gy, gx, 64)  # natural -> zigzag
        spec.append((grid, chs, cvs, -(-comp_w // 8), -(-comp_h // 8)))

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    n = len(spec)
    seg(0xDB, bytes([0x00]) + bytes(int(x) & 0xFF for x in qz))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([n])
    for ci, (_, chs, cvs, _, _) in enumerate(spec):
        sof += bytes([ci + 1, (chs << 4) | cvs, 0])
    seg(0xC2, sof)
    seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
    seg(0xC4, bytes([0x10]) + bytes(_AC_P_BITS) + bytes(_AC_P_VALS))

    def sos(comp_ids, ss, se, ah, al, body_bytes):
        hdr = bytes([len(comp_ids)])
        for cid in comp_ids:
            hdr += bytes([cid, 0x00 if ss == 0 else 0x10])
        hdr += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, hdr)
        out.extend(body_bytes)

    def dc_scan(al, refine):
        """Interleaved-MCU DC scan (the T.81 A.2.3 order the decoder's
        multi-component branch walks; for one 1x1 component this is the
        non-interleaved raster order)."""
        pw = _ProgWriter()
        preds = [0] * n
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (grid, chs, cvs, _, _) in enumerate(spec):
                    for byi in range(cvs):
                        for bxi in range(chs):
                            c0 = int(grid[my * cvs + byi, mx * chs + bxi, 0])
                            if refine:
                                pw.bw.put((c0 >> al) & 1, 1)
                                continue
                            v = c0 >> al
                            d = v - preds[ci]
                            preds[ci] = v
                            s = _size_cat(d)
                            pw.bw.put(*pw.dc_enc[s])
                            if s:
                                pw.bw.put(d if d >= 0 else d + (1 << s) - 1, s)
        return pw.finish_scan()

    def comp_blocks(ci):
        grid, _, _, nbx, nby = spec[ci]
        return [grid[by, bx] for by in range(nby) for bx in range(nbx)]

    # scan script: DC first (Al=1, interleaved over all components),
    # then per component: AC 1..5 first, AC 6..63 first (Al=1);
    # DC refinement; per component: AC refinements down to Al=0
    sos(list(range(1, n + 1)), 0, 0, 0, 1, dc_scan(1, refine=False))
    for ci in range(n):
        for (ss, se) in ((1, 5), (6, 63)):
            pw = _ProgWriter()
            _enc_ac_first(pw, comp_blocks(ci), ss, se, 1)
            sos([ci + 1], ss, se, 0, 1, pw.finish_scan())
    sos(list(range(1, n + 1)), 0, 0, 1, 0, dc_scan(0, refine=True))
    for ci in range(n):
        for (ss, se) in ((1, 5), (6, 63)):
            pw = _ProgWriter()
            _enc_ac_refine(pw, comp_blocks(ci), ss, se, 0)
            sos([ci + 1], ss, se, 1, 0, pw.finish_scan())

    out.extend(b"\xff\xd9")
    return bytes(out)
