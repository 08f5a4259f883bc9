"""Baseline JPEG (ITU-T T.81) codec, numpy + stdlib only — the last
compressed-media tier behind the multimodal decode path
(operators/multimodal.py). The reference repo has no media handling at
all; this exists so the media-lake ingest story (opaque binary payload +
typed meta, decode as an Arrow-batched narrow map) is REAL for the
jpeg format instead of a NotImplementedError stub, mirroring the PNG
tier closed in r7.

Scope (documented, enforced):
- encoder: baseline sequential DCT, 8-bit, grayscale or YCbCr at
  4:4:4 (default), 4:2:2, or 4:2:0 chroma subsampling (box-mean
  downsample, MCU-interleaved data units), standard Annex-K-style
  quantization scaled by libjpeg's quality formula, fixed Huffman
  tables emitted in DHT markers. JPEG files CARRY their entropy tables,
  so round-trip correctness (and third-party decodability) depends on
  the emitted DHT, not on matching Annex K bit-for-bit.
- decoder: baseline sequential (SOF0) only, 8-bit, any integer
  sampling-factor combination (4:2:0 / 4:2:2 / 4:4:0 / 4:1:1 — the
  camera/web shapes) with pixel-replication chroma upsample, SOS
  components mapped to SOF entries by id, restart intervals supported;
  progressive (SOF2), 12-bit, multi-scan, and arithmetic-coded streams
  raise NotImplementedError with the reason.

Unlike the PNG tier there is no bit-equality oracle — JPEG is lossy by
construction — so tests pin (a) encode→decode round-trip error bounds
at fixed qualities, (b) marker-level structure, (c) exact inversion of
each stage pair (zigzag, category coding, Huffman, DCT to float
precision) where exactness IS defined. Pure-Python entropy coding is
the honest cost: ~1 MPix/s/core — fine for an Arrow-batched decode map
(each image is one small independent unit of work), and the stage a
real deployment swaps for libjpeg-turbo without touching the Spark
plumbing around it.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# constant tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# Huffman specs as (BITS[1..16], HUFFVAL): the classic baseline tables.
# Emitted verbatim into DHT, and the decoder rebuilds from DHT — so the
# codec is self-describing even if these differ from Annex K somewhere.
DC_LUMA_SPEC = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
DC_CHROMA_SPEC = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
AC_LUMA_SPEC = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa])
AC_CHROMA_SPEC = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
    0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
    0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
    0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
    0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa])


def _dct_mat() -> np.ndarray:
    """8×8 orthonormal DCT-II matrix M: dct2(B) = M @ B @ M.T."""
    k = np.arange(8)
    m = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    m[0] /= np.sqrt(2)
    return m  # orthonormal (unit-L2 rows) == the T.81 A.3.3 scaling


_M = _dct_mat()


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's quality→table scaling (quality in [1, 100])."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int64)


def _build_codes(spec) -> dict[int, tuple[int, int]]:
    """(BITS, HUFFVAL) → {symbol: (code, length)} by the canonical T.81
    code-assignment procedure (Annex C)."""
    bits, vals = spec
    codes, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def pad_byte(self) -> None:
        if self.nbits:  # pad with 1-bits per T.81
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def emit_marker(self, second_byte: int) -> None:
        """Byte-align, then append a raw FF xx marker (markers are never
        byte-stuffed)."""
        self.pad_byte()
        self.out += bytes([0xFF, second_byte])

    def flush(self) -> bytes:
        self.pad_byte()
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24 and self.pos < len(self.data):
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker (e.g. RSTn handled by caller; EOI): stop feeding
                    self.pos -= 1
                    b = None
            if b is None:
                break
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        if self.nbits < n:  # trailing pad bits: zero-extend
            self.acc <<= (n - self.nbits)
            self.nbits = n
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def align_to_marker(self) -> int | None:
        """Drop partial byte, consume an RSTn marker if present; return its
        index or None."""
        self.acc = 0
        self.nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                idx = self.data[self.pos + 1] - 0xD0
                self.pos += 2
                return idx
            if self.data[self.pos] == 0xFF and self.data[self.pos + 1] not in (0x00,):
                return None  # some other marker (EOI) — caller stops
            self.pos += 1
        return None


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude_bits(v: int, cat: int) -> int:
    """T.81 F.1.2.1: positive values verbatim, negatives one's-complement."""
    return v if v >= 0 else v + (1 << cat) - 1


def _extend(bits: int, cat: int) -> int:
    """Inverse of _amplitude_bits (T.81 F.2.2.1 EXTEND)."""
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    return np.stack([
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.stack([r, g, b], axis=-1)


def _blockify_grid(plane: np.ndarray, gbh: int, gbw: int) -> np.ndarray:
    """(H, W) float plane → (gbh*gbw, 8, 8) padded by edge replication to a
    FIXED block grid (gbh × gbw blocks) — sampling factors can force the
    grid past the minimal ceil(H/8) (MCU alignment). Raster order."""
    h, w = plane.shape
    padded = np.pad(plane, ((0, gbh * 8 - h), (0, gbw * 8 - w)), mode="edge")
    return (padded.reshape(gbh, 8, gbw, 8).transpose(0, 2, 1, 3)
            .reshape(gbh * gbw, 8, 8))


def _box_downsample(plane: np.ndarray, fh: int, fv: int) -> np.ndarray:
    """Chroma downsample by fh×fv box mean (edge-replicated to a multiple
    first) — the plain-average subsampling every baseline encoder is
    allowed to use; the decoder's replication upsample is its inverse up
    to the averaging loss."""
    h, w = plane.shape
    ch, cw = -(-h // fv), -(-w // fh)
    padded = np.pad(plane, ((0, ch * fv - h), (0, cw * fh - w)), mode="edge")
    return padded.reshape(ch, fv, cw, fh).mean(axis=(1, 3))


def _unblockify(blocks: np.ndarray, bh: int, bw: int, h: int, w: int) -> np.ndarray:
    full = (blocks.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8))
    return full[:h, :w]


def _encode_plane(zz: np.ndarray, writer: _BitWriter, dc_codes, ac_codes,
                  pred: int) -> int:
    """Entropy-encode one plane's zigzagged quantized blocks (n, 64);
    returns the updated DC predictor."""
    for blk in zz:
        diff = int(blk[0]) - pred
        pred = int(blk[0])
        cat = _category(diff)
        code, ln = dc_codes[cat]
        writer.write(code, ln)
        if cat:
            writer.write(_amplitude_bits(diff, cat), cat)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for i in range(1, last + 1):
            v = int(blk[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                writer.write(code, ln)
                run -= 16
            cat = _category(v)
            code, ln = ac_codes[(run << 4) | cat]
            writer.write(code, ln)
            writer.write(_amplitude_bits(v, cat), cat)
            run = 0
        if last < 63:
            code, ln = ac_codes[0x00]  # EOB
            writer.write(code, ln)
    return pred


_SUBSAMPLING = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}


def jpeg_encode(img: np.ndarray, quality: int = 90,
                restart_interval: int = 0,
                subsampling: str = "4:4:4",
                _scan_order: tuple[int, ...] | None = None) -> bytes:
    """(H, W) or (H, W, 1|3) uint8 → baseline sequential JFIF bytes.
    3-channel input is taken as RGB and coded as YCbCr.
    ``subsampling``: "4:4:4" (default), "4:2:2", or "4:2:0" — chroma is
    box-mean downsampled and the luma sampling factors become 2×1 / 2×2,
    matching the MCU interleave virtually every camera/web JPEG uses.
    ``restart_interval`` > 0 emits a DRI marker and an RSTn marker every
    that many MCUs (DC predictors reset, bitstream byte-aligned) — the
    T.81 resync mechanism real encoders use so a corrupt byte loses one
    restart segment, not the rest of the scan.
    ``_scan_order`` (test fixture only): permutation of component indices
    for the SOS header and MCU interleave — T.81 allows a scan to list
    components in any order, and the decoder's by-id SOS→SOF mapping
    needs a stream only a reordering encoder can produce."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c not in (1, 3):
        raise NotImplementedError(f"jpeg_encode: {c}-channel images")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"jpeg_encode: unknown subsampling {subsampling!r}; "
                         f"one of {sorted(_SUBSAMPLING)}")
    fh, fv = _SUBSAMPLING[subsampling] if c == 3 else (1, 1)
    # per-component (horizontal, vertical) sampling factors: luma carries
    # the max factors, chroma stays 1×1 — the T.81 shape of 4:2:0/4:2:2
    factors = [(fh, fv)] + [(1, 1)] * (c - 1)
    if c == 3:
        ycc = _rgb_to_ycbcr(img)
        planes = [ycc[..., 0]] + [
            _box_downsample(ycc[..., i], fh, fv) if (fh, fv) != (1, 1)
            else ycc[..., i] for i in (1, 2)]
    else:
        planes = [img[..., 0].astype(np.float64)]

    ql = _quality_scale(QUANT_LUMA, quality)
    qc = _quality_scale(QUANT_CHROMA, quality)
    qtabs = [ql] + ([qc] if c == 3 else [])

    dc_specs = [DC_LUMA_SPEC, DC_CHROMA_SPEC]
    ac_specs = [AC_LUMA_SPEC, AC_CHROMA_SPEC]
    dc_codes = [_build_codes(s) for s in dc_specs]
    ac_codes = [_build_codes(s) for s in ac_specs]

    # MCU grid sized by the max sampling factors; each component's block
    # grid is MCU-aligned (mcy*fv_i × mcx*fh_i), edge-padded
    mcx, mcy = -(-w // (8 * fh)), -(-h // (8 * fv))
    comp_zz, comp_gbw = [], []
    for ci, plane in enumerate(planes):
        cfh, cfv = factors[ci]
        gbh, gbw = mcy * cfv, mcx * cfh
        q = qtabs[min(ci, 1)].reshape(8, 8)
        blocks = _blockify_grid(plane - 128.0, gbh, gbw)
        coef = np.einsum("ux,nxy,vy->nuv", _M, blocks, _M)
        zz = np.round(coef / q).astype(np.int64).reshape(-1, 64)[:, ZIGZAG]
        comp_zz.append(zz)
        comp_gbw.append(gbw)

    # entropy-code interleaved MCUs: per MCU, each component contributes
    # its fh×fv data units in raster order (T.81 A.2.3)
    writer = _BitWriter()
    preds = [0] * c
    rst = 0
    for m in range(mcy * mcx):
        if restart_interval and m and m % restart_interval == 0:
            writer.emit_marker(0xD0 + rst)
            rst = (rst + 1) % 8
            preds = [0] * c
        my, mx = divmod(m, mcx)
        for ci in (_scan_order or range(c)):
            t = min(ci, 1)
            cfh, cfv = factors[ci]
            gbw = comp_gbw[ci]
            for by in range(cfv):
                for bx in range(cfh):
                    idx = (my * cfv + by) * gbw + (mx * cfh + bx)
                    preds[ci] = _encode_plane(
                        comp_zz[ci][idx:idx + 1], writer,
                        dc_codes[t], ac_codes[t], preds[ci])
    scan = writer.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)  # APP0
    for ti, q in enumerate(qtabs):
        out += b"\xff\xdb" + struct.pack(">HB", 67, ti) \
            + bytes(int(x) for x in q[ZIGZAG])  # DQT, zigzag order
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)  # DRI
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * c, 8, h, w, c)  # SOF0
    for ci in range(c):
        cfh, cfv = factors[ci]
        out += bytes([ci + 1, (cfh << 4) | cfv, min(ci, 1)])  # id, samp, qtab
    for cls, specs in ((0, dc_specs), (1, ac_specs)):
        for ti in range(min(c, 2)):
            bits, vals = specs[ti]
            out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals),
                                             (cls << 4) | ti) \
                + bytes(bits) + bytes(vals)  # DHT
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * c, c)  # SOS
    for ci in (_scan_order or range(c)):
        t = min(ci, 1)
        out += bytes([ci + 1, (t << 4) | t])
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _decode_tables(bits_vals) -> dict[tuple[int, int], int]:
    """DHT payload → {(length, code): symbol} for the bit-serial decoder."""
    bits, vals = bits_vals
    table, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return table


def _read_symbol(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def jpeg_decode(payload: bytes) -> np.ndarray:
    """Baseline JFIF/JPEG bytes → (H, W, C) uint8 (C = 1 or 3, RGB).
    Integer sampling factors (4:2:0, 4:2:2, 4:4:0, 4:1:1, …) are decoded
    with pixel-replication chroma upsample — the common camera/web shape.
    Raises NotImplementedError for progressive/12-bit/multi-scan streams
    and non-integer sampling ratios — the documented scope gate, same
    posture as png_decode."""
    data = bytes(payload)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] = []  # (id, fh, fv, qtab)
    h = w = None
    restart = 0
    scan_comps: list[tuple[int, int, int]] = []
    scan_start = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seg_len,) = struct.unpack(">H", data[pos + 2:pos + 4])
        seg = data[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            s = 0
            while s < len(seg):
                prec, tid = seg[s] >> 4, seg[s] & 0x0F
                if prec:
                    raise NotImplementedError("16-bit quantization tables")
                q = np.frombuffer(seg[s + 1:s + 65], dtype=np.uint8)
                qtabs[tid] = q.astype(np.int64)[UNZIGZAG]
                s += 65
        elif marker == 0xC4:  # DHT
            s = 0
            while s < len(seg):
                cls, tid = seg[s] >> 4, seg[s] & 0x0F
                bits = list(seg[s + 1:s + 17])
                n = sum(bits)
                vals = list(seg[s + 17:s + 17 + n])
                huff[(cls, tid)] = _decode_tables((bits, vals))
                s += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            depth, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if depth != 8:
                raise NotImplementedError(f"{depth}-bit JPEG")
            for ci in range(nc):
                cid, samp, qid = seg[6 + 3 * ci:9 + 3 * ci]
                fh, fv = samp >> 4, samp & 0x0F
                if not (1 <= fh <= 4 and 1 <= fv <= 4):
                    raise ValueError(f"invalid sampling factors {fh}x{fv}")
                comps.append((cid, fh, fv, qid))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0x{marker:02x}: only baseline sequential "
                "(SOF0) is supported")
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            for ci in range(ns):
                cid, tt = seg[1 + 2 * ci], seg[2 + 2 * ci]
                scan_comps.append((cid, tt >> 4, tt & 0x0F))
            scan_start = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if h is None or scan_start is None:
        raise ValueError("JPEG without SOF0/SOS")

    c = len(comps)
    if c == 1:
        # single-component scan: the data unit is one block regardless of
        # declared factors (T.81 A.2.2) — some encoders still write 2×2
        cid0, _, _, qid0 = comps[0]
        comps = [(cid0, 1, 1, qid0)]
    hmax = max(fh for _, fh, _, _ in comps)
    vmax = max(fv for _, _, fv, _ in comps)
    for _, fh, fv, _ in comps:
        if hmax % fh or vmax % fv:
            raise NotImplementedError(
                f"non-integer sampling ratio ({fh}x{fv} into {hmax}x{vmax})")
    if len(scan_comps) != c:
        raise NotImplementedError(
            "multi-scan (non-interleaved) baseline JPEG")
    # Map each SOS entry to its SOF component BY ID (ADVICE r8): a stream
    # whose scan lists components in a different order than the frame
    # header would otherwise dequantize each plane with the wrong table.
    sof_by_id = {comp[0]: i for i, comp in enumerate(comps)}
    order: list[tuple[int, int, int]] = []  # (sof index, dc table, ac table)
    for cid, dt, at in scan_comps:
        if cid not in sof_by_id:
            raise ValueError(f"SOS component id {cid} not declared in SOF0")
        order.append((sof_by_id[cid], dt, at))

    mcx, mcy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    grid = [(mcy * fv, mcx * fh) for _, fh, fv, _ in comps]
    coefs = [np.zeros((gbh * gbw, 64), dtype=np.int64) for gbh, gbw in grid]
    reader = _BitReader(data[scan_start:])
    preds = [0] * c
    for m in range(mcy * mcx):
        if restart and m and m % restart == 0:
            reader.align_to_marker()
            preds = [0] * c
        my, mx = divmod(m, mcx)
        for si, dt, at in order:
            _cid, fh, fv, _qid = comps[si]
            dc_t, ac_t = huff[(0, dt)], huff[(1, at)]
            gbw = grid[si][1]
            for by in range(fv):
                for bx in range(fh):
                    cat = _read_symbol(reader, dc_t)
                    diff = _extend(reader.read(cat), cat)
                    preds[si] += diff
                    blk = coefs[si][(my * fv + by) * gbw + (mx * fh + bx)]
                    blk[0] = preds[si]
                    k = 1
                    while k < 64:
                        sym = _read_symbol(reader, ac_t)
                        if sym == 0x00:  # EOB
                            break
                        run, cat = sym >> 4, sym & 0x0F
                        if cat == 0 and run == 15:  # ZRL
                            k += 16
                            continue
                        k += run
                        if k > 63:
                            raise ValueError("AC run past block end")
                        blk[k] = _extend(reader.read(cat), cat)
                        k += 1

    planes = []
    for si, (cid, fh, fv, qid) in enumerate(comps):
        q = qtabs[qid].reshape(8, 8).astype(np.float64)
        blocks = (coefs[si][:, UNZIGZAG].reshape(-1, 8, 8) * q)
        pix = np.einsum("xu,nuv,yv->nxy", _M.T, blocks, _M.T) + 128.0
        gbh, gbw = grid[si]
        ch, cw = -(-h * fv // vmax), -(-w * fh // hmax)  # component px dims
        plane = _unblockify(pix, gbh, gbw, ch, cw)
        if fh != hmax or fv != vmax:
            # pixel-replication upsample to full resolution (a valid
            # baseline decode; libjpeg's "fancy" triangle filter differs
            # by ≤ the quantization noise the lossy tolerance covers)
            plane = np.repeat(np.repeat(plane, vmax // fv, axis=0),
                              hmax // fh, axis=1)[:h, :w]
        planes.append(plane)
    if c == 1:
        out = planes[0][..., None]
    elif c == 3:
        out = _ycbcr_to_rgb(np.stack(planes, axis=-1))
    else:
        raise NotImplementedError(f"{c}-component JPEG")
    return np.clip(np.round(out), 0, 255).astype(np.uint8)
