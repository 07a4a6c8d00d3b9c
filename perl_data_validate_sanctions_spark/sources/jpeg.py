"""Stdlib+numpy baseline JPEG codec (grayscale, 8-bit) — the LOSSY
real-decode path.

Round 4 gave the integrity check a real decode mode for PNG
(sources/png.py); this module does the same for JPEG, the lossy format
the north rule's "PSNR >= 40 dB for lossy formats" invariant is
actually about. It is written to the PUBLIC spec — ITU-T T.81 (1992):
baseline sequential DCT, the Annex K reference quantization and
Huffman tables, JFIF framing — with no image library: the only
dependencies are ``struct`` and numpy. ``checks/integrity.py`` sniffs
the 3-byte SOI prefix and routes payloads here; ``codec.real_decode``
does the same, which removes the last ``NotImplementedError`` from the
package for the formats the synthetic table actually carries
(png/jpeg; webp remains fake-codec only and is documented as such).

Scope (documented, enforced): baseline DCT (SOF0), 8-bit precision,
single component (grayscale), 1x1 sampling, no restart intervals, no
progressive/arithmetic/hierarchical modes. Everything outside that
profile raises ``ValueError`` — which the integrity check turns into
an "undecodable payload" violation row, never a task failure
(mirroring the reference's per-source error isolation,
/root/reference/lib/Data/Validate/Sanctions/Fetcher.pm:830-859).

Execution shape: the DCT/quantization (encode) and
dequantization/IDCT (decode) are vectorized numpy over ALL blocks of
an image at once (one ``einsum`` per image, not per block); only the
entropy (Huffman) layer is a per-symbol Python loop, which is inherent
to a bitstream with data-dependent code lengths. The decode entropy
loop is libjpeg-shaped: a flat 2^16 peek LUT (packed ``sym<<8|len``
ints) over a vectorized sliding 32-bit window — ~2.4 ms of
interpreter time per 64x48 image of WORST-CASE content (the synthetic
renders are white noise, the densest possible symbol stream; smooth
photographic content is several times cheaper). Pixels never leave
the Arrow worker — only violation rows do. The cost scales with
w*h like any real codec's; see SCALING.md for the per-row decode
story at 100 TB. Unlike PNG there is no CRC: corruption is surfaced either as a
broken bitstream (invalid Huffman code / truncation / stray marker →
ValueError) or as decoded pixels failing the PSNR gate — both are
violations, and the planted-corruption bench uses truncation, which
is deterministically the former.
"""

from __future__ import annotations

import struct

import numpy as np

from . import jpeg_scan_c as _scan_c

# 3-byte sniff prefix: SOI marker + the first 0xFF of the next segment.
JPEG_MAGIC = b"\xff\xd8\xff"

# ITU-T T.81 Table K.1 — luminance quantization, natural (row-major)
# order. DQT segments store it in zigzag order (see _ZIGZAG).
_BASE_QT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

# ITU-T T.81 Annex K.3 — the standard luminance Huffman tables
# (bits[i] = number of codes of length i+1, then the symbol list in
# canonical order). Using the standard tables (rather than ad-hoc
# ones) keeps the emitted files decodable by ANY baseline decoder.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
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
    0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """Natural-order index for each zigzag position (T.81 Figure 5):
    generated, not transcribed, so it cannot be mistyped."""
    idx = []
    for s in range(15):
        for i in range(s + 1):
            r, c = (s - i, i) if s % 2 == 0 else (i, s - i)
            if r < 8 and c < 8:
                idx.append(r * 8 + c)
    return np.asarray(idx, dtype=np.int64)


_ZIGZAG = _zigzag_order()

# Orthonormal 8-point DCT-II matrix: forward D = T B Tᵀ, inverse
# B = Tᵀ D T. float64 keeps the round-trip error far below 1 LSB.
_T = np.zeros((8, 8), dtype=np.float64)
_T[0, :] = 1.0 / np.sqrt(8.0)
for _k in range(1, 8):
    for _n in range(8):
        _T[_k, _n] = 0.5 * np.cos((2 * _n + 1) * _k * np.pi / 16.0)


def quant_table(quality: int) -> np.ndarray:
    """IJG-convention quality scaling of the K.1 table (natural order,
    entries clipped to [1, 255])."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (_BASE_QT * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) under T.81 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    """MSB-first bit accumulator with T.81 byte stuffing (0xFF → 0xFF
    0x00 inside the entropy-coded segment)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.n -= 8
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1-bits per T.81
        return bytes(self.buf)


def _blocks_of(img: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad (h, w) to 8-multiples by edge replication and return
    (n_blocks, 8, 8) float blocks in MCU scan order, plus block grid."""
    h, w = img.shape
    ph, pw = (-h) % 8, (-w) % 8
    p = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return blocks, bh, bw


def encode_jpeg_gray(img: np.ndarray, quality: int = 90) -> bytes:
    """Encode an (h, w) uint8 array as a baseline grayscale JFIF JPEG."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 2 or not img.size:
        raise ValueError("expected a non-empty (h, w) uint8 array")
    h, w = img.shape
    if h > 0xFFFF or w > 0xFFFF:
        raise ValueError("image too large for a JPEG frame header")
    qt = quant_table(quality)
    blocks, _, _ = _blocks_of(img)
    dct = np.einsum("ij,njk,lk->nil", _T, blocks - 128.0, _T)
    coeff = np.round(dct.reshape(-1, 64) / qt).astype(np.int32)
    zz = coeff[:, _ZIGZAG]

    bw_ = _BitWriter()
    prev_dc = 0
    for blk in zz:
        diff = int(blk[0]) - prev_dc
        prev_dc = int(blk[0])
        s = abs(diff).bit_length()
        code, length = _DC_ENC[s]
        bw_.write(code, length)
        if s:
            bw_.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        run = 0
        nz = np.flatnonzero(blk[1:]) + 1
        k = 1
        for j in nz:
            run = int(j) - k
            while run >= 16:
                zc, zl = _AC_ENC[0xF0]  # ZRL
                bw_.write(zc, zl)
                run -= 16
            v = int(blk[j])
            s = abs(v).bit_length()
            code, length = _AC_ENC[(run << 4) | s]
            bw_.write(code, length)
            bw_.write(v if v > 0 else v + (1 << s) - 1, s)
            k = int(j) + 1
        if k < 64:
            ec, el = _AC_ENC[0x00]  # EOB
            bw_.write(ec, el)
    entropy = bw_.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = seg(0xDB, b"\x00" + bytes(int(x) for x in qt[_ZIGZAG]))
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes((1, 0x11, 0)))
    dht = seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)) + seg(
        0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    sos = seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht + sos + entropy + b"\xff\xd9"
    )


# Decode-side Huffman: a flat 2^16-entry peek table (next 16 bits →
# (symbol, code length)), the classic libjpeg structure — one list
# index replaces a per-bit tree walk. Tables are cached by content, so
# the two standard tables are built once per worker process.
_LUT_CACHE: dict[bytes, list[int]] = {}
_PEEK = 16


def _huff_lut(bits: bytes, vals: bytes) -> list[int]:
    """Entries are packed ``(symbol << 8) | code_length``; 0 marks an
    invalid prefix (no real entry packs to 0 — lengths are >= 1)."""
    if sum(bits) != len(vals):
        raise ValueError("DHT length mismatch")
    key = bytes(bits) + b"\xff" + bytes(vals)
    lut = _LUT_CACHE.get(key)
    if lut is not None:
        return lut
    lut = [0] * (1 << _PEEK)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("overfull Huffman table")
            span = 1 << (_PEEK - length)
            base = code << (_PEEK - length)
            lut[base:base + span] = [(vals[k] << 8) | length] * span
            code += 1
            k += 1
        code <<= 1
    _LUT_CACHE[key] = lut
    return lut


def _entropy_segment(data: bytes, pos: int) -> tuple[bytes, int | None]:
    """Un-stuff the scan's entropy bytes (0xFF 0x00 → 0xFF) up to the
    first real marker; returns (bytes, terminating marker or None if
    the file ends without one)."""
    out = bytearray()
    i = pos
    while True:
        j = data.find(b"\xff", i)
        if j < 0:
            out += data[i:]
            return bytes(out), None
        out += data[i:j]
        if j + 1 >= len(data):
            return bytes(out), None
        nxt = data[j + 1]
        if nxt == 0x00:
            out.append(0xFF)
            i = j + 2
        else:
            return bytes(out), nxt


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline grayscale JPEG → (w, h, (h, w) uint8 pixels).

    Raises ``ValueError`` on anything outside the documented profile or
    on a broken bitstream — the integrity check maps that to an
    "undecodable payload" violation row.
    """
    data = bytes(payload)
    if data[:3] != JPEG_MAGIC:
        raise ValueError("bad JPEG signature")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], list[int]] = {}
    frame: tuple[int, int, int] | None = None  # (h, w, qtable id)
    scan_ids: tuple[int, int] | None = None  # (dc table, ac table)
    while True:
        if pos + 2 > len(data):
            raise ValueError("truncated before SOS")
        if data[pos] != 0xFF:
            raise ValueError("expected a marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            raise ValueError(f"unexpected marker 0xFF{marker:02X}")
        if marker == 0xD9:
            raise ValueError("EOI before scan data")
        if pos + 2 > len(data):
            raise ValueError("truncated segment header")
        seg_len = struct.unpack(">H", data[pos:pos + 2])[0]
        body = data[pos + 2:pos + seg_len]
        if seg_len < 2 or pos + seg_len > len(data):
            raise ValueError("truncated segment")
        pos += seg_len
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError(
                        "unsupported JPEG profile (16-bit quant table)"
                    )
                if b + 65 > len(body):
                    raise ValueError("truncated DQT")
                t = np.zeros(64, dtype=np.int32)
                t[_ZIGZAG] = np.frombuffer(
                    body[b + 1:b + 65], dtype=np.uint8
                ).astype(np.int32)
                if not t.all():
                    raise ValueError("zero entry in quant table")
                qts[tq] = t
                b += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                if tc > 1:
                    raise ValueError("bad DHT class")
                if b + 17 > len(body):
                    raise ValueError("truncated DHT")
                bits = body[b + 1:b + 17]
                n = sum(bits)
                vals = body[b + 17:b + 17 + n]
                huffs[(tc, th)] = _huff_lut(bits, vals)
                b += 17 + n
        elif marker == 0xC0:  # SOF0: baseline sequential
            if len(body) < 9:
                raise ValueError("truncated SOF0")
            prec, fh, fw, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("unsupported JPEG profile (not 8-bit)")
            if ncomp != 1:
                raise ValueError(
                    "unsupported JPEG profile (need 1 component, "
                    f"got {ncomp})"
                )
            if not fh or not fw:
                raise ValueError("empty frame")
            _cid, sampling, tq = body[6], body[7], body[8]
            if sampling != 0x11:
                raise ValueError("unsupported JPEG profile (subsampling)")
            frame = (fh, fw, tq)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG profile (progressive/extended/"
                f"arithmetic SOF 0xFF{marker:02X})"
            )
        elif marker == 0xDD:
            raise ValueError("unsupported JPEG profile (restart interval)")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF0")
            if len(body) < 6 or body[0] != 1:
                raise ValueError("unsupported scan (need 1 component)")
            scan_ids = (body[2] >> 4, body[2] & 0x0F)
            if body[3] != 0 or body[4] != 63:
                raise ValueError("unsupported scan (not sequential 0..63)")
            break
        elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
            continue  # APPn / COM: skipped
        else:
            raise ValueError(f"unexpected marker 0xFF{marker:02X}")

    assert frame is not None and scan_ids is not None
    h, w, tq = frame
    if tq not in qts:
        raise ValueError("missing quant table for component")
    dc = huffs.get((0, scan_ids[0]))
    ac = huffs.get((1, scan_ids[1]))
    if dc is None or ac is None:
        raise ValueError("missing Huffman table for scan")

    bh, bw_n = (h + 7) // 8, (w + 7) // 8
    n_blocks = bh * bw_n

    ent, term = _entropy_segment(data, pos)
    if term != 0xD9:
        raise ValueError("scan not terminated by EOI")
    total_bits = len(ent) * 8
    # Corrupt frame headers must not drive allocation: every block
    # costs >= 2 bits with any Huffman table, so a frame whose block
    # count exceeds the scan's bit budget is broken — reject it before
    # sizing the coefficient matrix (bounds zz at 128 bytes per scan
    # byte).
    if n_blocks > max(1, total_bits // 2):
        raise ValueError("frame dimensions exceed scan data")
    zz = np.zeros((n_blocks, 64), dtype=np.int32)
    # Compiled fast path (sources/jpeg_scan_c.py): an exact C
    # transliteration of the loop below, ~10× faster per scan. Status
    # != 0 (any anomaly) re-zeroes zz and runs this reference loop so
    # every error message/acceptance decision stays Python-produced;
    # status == 0 is property-tested bit-for-bit identical
    # (tests/test_jpeg_c_kernel.py).
    decoded_by_c = False
    bitpos = 0
    if _scan_c.available():
        status, c_bitpos = _scan_c.decode_scan(
            ent, total_bits, n_blocks, dc, ac, zz
        )
        if status == 0:
            decoded_by_c = True
            bitpos = c_bitpos
        else:
            zz[:] = 0  # kernel may have partially filled it
    if not decoded_by_c:
        # One vectorized pass builds the sliding 32-bit big-endian
        # window at every byte offset (4 zero pad bytes cover the peek
        # window at the end of a VALID stream — the per-block cursor
        # check keeps the cursor in range between blocks); the hot loop
        # then does a single list index per peek instead of a bytes
        # slice + int.from_bytes. A corrupt stream can run the cursor
        # past the pad mid-block — the resulting IndexError is caught
        # at the loop and raised as the same truncation ValueError the
        # integrity check maps to a violation row.
        bb = np.frombuffer(ent + b"\x00\x00\x00\x00", dtype=np.uint8)
        bb = bb.astype(np.uint32)
        w32 = (
            (bb[:-3] << 24) | (bb[1:-2] << 16) | (bb[2:-1] << 8) | bb[3:]
        ).tolist()
        pred = 0
        try:
            for b in range(n_blocks):
                chunk = w32[bitpos >> 3]
                hit = dc[(chunk >> (16 - (bitpos & 7))) & 0xFFFF]
                if not hit:
                    raise ValueError("invalid DC Huffman code")
                s = hit >> 8
                bitpos += hit & 0xFF
                if s > 11:
                    raise ValueError("bad DC category")
                if s:
                    chunk = w32[bitpos >> 3]
                    v = (chunk >> (32 - (bitpos & 7) - s)) & ((1 << s) - 1)
                    bitpos += s
                    pred += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                row = zz[b]
                row[0] = pred
                k = 1
                while k < 64:
                    chunk = w32[bitpos >> 3]
                    hit = ac[(chunk >> (16 - (bitpos & 7))) & 0xFFFF]
                    if not hit:
                        raise ValueError("invalid AC Huffman code")
                    sym = hit >> 8
                    bitpos += hit & 0xFF
                    s = sym & 0x0F
                    if s == 0:
                        if sym == 0x00:  # EOB
                            break
                        if sym == 0xF0:  # ZRL
                            k += 16
                            continue
                        raise ValueError(f"bad AC symbol 0x{sym:02X}")
                    k += sym >> 4
                    if k > 63:
                        raise ValueError("AC coefficient index out of range")
                    chunk = w32[bitpos >> 3]
                    v = (chunk >> (32 - (bitpos & 7) - s)) & ((1 << s) - 1)
                    bitpos += s
                    row[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    k += 1
                if bitpos > total_bits:
                    raise ValueError("truncated scan")
        except IndexError:
            # corrupt stream ran the cursor past the padded window
            raise ValueError("truncated scan") from None

    nat = np.zeros_like(zz)
    nat[:, _ZIGZAG] = zz
    d = (nat * qts[tq]).astype(np.float64).reshape(-1, 8, 8)
    # Tᵀ·d·T as two stacked matmuls, not a 3-operand einsum: numpy's
    # un-optimized c_einsum contracts all indices in one generic-stride
    # nested loop (~0.65 ms per image in the round-7 integrity profile,
    # the single hottest line of the whole suite); the matmul pair runs
    # the same contraction ~10× faster. Summation order technically
    # differs, but after round+clip the decoded pixels were verified
    # bit-identical across every pinned fixture payload, 3000
    # bench-style renders and 300 random size/quality images
    # (tests/test_jpeg.py::test_idct_matmul_matches_einsum pins this).
    # That identity is empirical for the BLAS build it was measured on,
    # not algebraic: another BLAS may sum in another order, and a value
    # landing on a .5 rounding boundary could then flip one pixel by ±1.
    # The pinned test is what catches such a platform.
    spatial = _T.T @ d @ _T + 128.0
    pixels = (
        np.clip(np.round(spatial), 0, 255)
        .astype(np.uint8)
        .reshape(bh, bw_n, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw_n * 8)[:h, :w]
    )

    # the remainder must be <1 byte of padding bits then the EOI the
    # entropy scanner already found: a whole unconsumed byte means the
    # stream and the frame header disagree (corruption)
    if total_bits - bitpos >= 8:
        raise ValueError("trailing garbage after scan")
    return w, h, np.ascontiguousarray(pixels)
