"""Payload-integrity check: decode the binary column, compare decoded
pixels against the per-image reference (PSNR ≥ 40 dB for lossy formats,
exact for lossless), verify the stored caption equals the reference
caption, and cross-check the header's (fmt, w, h) against the table
columns (BASELINE.json input_hint: "decoded-pixel allclose
(PSNR>=40dB for lossy) + caption equality").

Execution shape: ``mapInPandas`` (Arrow batches; this is the only check
that reads ``bytes``, and it emits ONLY violation rows, so at 10^12 rows
nothing but violations crosses back). The reference caption is
evaluated JVM-side (pure Column expr) *before* the Arrow hop, so Python
receives it as a ready column — no re-derivation logic to drift apart.

Inside the batch everything is **vectorized numpy** — the only per-row
Python is the ~µs header parse. Rows are grouped by (n_pixels, amp) and
the whole group's pixels render as one (rows, pixels) matrix via the
counter-based codec (sources/codec.py), so the pixel compare runs at
memory bandwidth, not interpreter speed.

Two evaluation modes:

- **exact** (``pixel_sample=None``, the default): every pixel of every
  image is compared. This is the parity mode — byte-identical
  semantics to a per-row decode+compare.
- **sampled** (``pixel_sample=m``): PSNR is first *estimated* on ``m``
  deterministic strided pixels (O(m) render — the counter-based codec
  gives random access), and any row whose estimate falls below
  ``threshold + escalate_margin_db`` is **escalated to the exact
  full-pixel compare**. Violations are therefore always confirmed
  exactly (zero false positives). A pass is statistical: for a row to
  be missed, its true MSE must exceed the threshold while an
  m-pixel stratified sample reads ≥ margin dB better — for pixel-iid
  corruption, Hoeffding gives P(miss) ≤ exp(-2·m·δ²) with δ the
  margin in MSE units (m=4096, 2 dB margin ⇒ ≪ 1e-30). This is the
  10^12-row production mode: it reads O(m) instead of O(w·h) pixels
  per clean image. Adversarially *concentrated* corruption (all damage
  inside the unsampled pixels) requires exact mode — documented here
  and in SCALING.md.

The decode is format-sniffed per row: payloads bearing the PNG
signature take the REAL end-to-end path (stdlib zlib + unfiltering,
sources/png.py), JPEG SOI-marker payloads the real baseline-DCT path
(sources/jpeg.py) — no image libraries needed for either — both under
the same PSNR gate; synthetic PDVS1 payloads use the deterministic
stub codec (sources/codec.py). Per-partition error isolation mirrors the
reference's per-source try/except (Fetcher.pm:830-859): a row that
fails to decode becomes a violation row, never a task failure."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import VIOLATION_SCHEMA
from ..sources import codec, jpeg, png, webp

_OUT = "partition_id int, image_id string, column string, detail string"


def _webp_sys_available() -> bool:
    """Whether the system libwebp is loadable in THIS process (each
    Spark python worker probes once, then hits the module cache).
    Indirection point so unit tests can pin the library-absent
    contract without a real libwebp-free machine."""
    from ..sources import webp_sys

    return webp_sys.available()


def _sniff_unsupported(head: bytes) -> str | None:
    """Name of a RECOGNIZED real-image container the engine ships no
    decoder for, or None. Checked after the live PNG/JPEG/WebP sniffs
    and before the synthetic-codec parse, so these payloads get a
    distinct ``codec_unavailable`` violation reason instead of
    masquerading as corruption (the payload may be valid). WebP only
    reaches here for its lossy/extended flavors on a machine WITHOUT
    the system libwebp — VP8L lossless decodes for real via
    sources/webp.py, and VP8/VP8X decode via sources/webp_sys.py when
    the library is loadable."""
    if head[:4] == b"RIFF" and head[8:12] == b"WEBP":
        return f"webp-{head[12:16].decode('ascii', 'replace').strip().lower()}"
    if head[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if head[:2] == b"BM":
        return "bmp"
    if head[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    return None


def _check_real_row(
    pid: int,
    iid: str,
    blob: bytes,
    col_w: int,
    col_h: int,
    col_fmt: str,
    mse_limit: float,
    thr: float,
    decode,
    fmt_name: str,
) -> list[tuple]:
    """Integrity verdict for one real-codec payload (PNG or baseline
    JPEG): full decode, header cross-check, exact full-pixel PSNR vs
    the reference image. For the lossless format (PNG) any nonzero
    noise below the gate is the fixture's doing; for the lossy one
    (JPEG) the PSNR gate IS the invariant — the north rule's
    "allclose, PSNR >= 40 dB for lossy formats"."""
    try:
        dw, dh, pixels = decode(blob)
    except ValueError as e:
        return [(pid, iid, "bytes", f"undecodable payload: {e}")]
    if (dw, dh, fmt_name) != (col_w, col_h, col_fmt):
        return [(pid, iid, "bytes",
                 f"header ({fmt_name},{dw},{dh}) != columns "
                 f"({col_fmt},{col_w},{col_h})")]
    ref = codec.decode_reference(iid, dw, dh)
    d = pixels.astype(np.int64) - ref.astype(np.int64)
    mse = float(np.mean(d * d))
    if mse > mse_limit:
        p_db = codec.psnr_from_mse(mse)
        return [(pid, iid, "bytes", f"psnr {p_db:.1f} dB < {thr:.0f} dB")]
    return []

PSNR_THRESHOLD_DB = 40.0

# chunk the (rows × pixels) matrices to ~4M pixels (32 MB of u64 hash
# words). All hot-path arrays come from the codec's per-process scratch
# pool (codec._pool_buf) — zero allocation per chunk, so the budget can
# be big enough to amortize numpy dispatch without page-fault churn.
_CHUNK_PIXEL_BUDGET = 4_000_000


def _mse_rows(
    seeds: np.ndarray,
    ref_seeds: np.ndarray,
    amp: int,
    n_pixels: int,
    pixel_idx: np.ndarray | None,
) -> np.ndarray:
    """Vectorized per-row MSE between decoded and reference pixels.

    decoded = clip(render(seed) + noise(seed, amp), 0, 255)
    reference = render(ref_seed)

    With ``pixel_idx`` set, only those pixel positions are rendered and
    compared (the sampled estimate); otherwise all ``n_pixels``.

    Fast path: the fused C kernel (sources/mse_c.py) computes the same
    integer squared-difference sums in ONE register-resident pass —
    hash word → lanes → noise → clip → diff² — instead of the ~6
    full-size numpy array passes below (measured 131 Mpx/s/core with
    noise → ~900; bit-identical sums pinned by
    tests/test_mse_c_kernel.py). The numpy path remains the reference
    implementation and runs wherever no C toolchain exists."""
    from ..sources import mse_c

    if mse_c.available():
        m = (len(pixel_idx) * 8) if pixel_idx is not None else n_pixels
        ssd = mse_c.ssd_rows(seeds, ref_seeds, amp, n_pixels, pixel_idx)
        if ssd is not None:
            return ssd / float(m)
    if pixel_idx is not None:
        # pixel_idx holds WORD indices (aligned 8-pixel runs): one hash
        # per 8 sampled pixels, same cost profile as the full render
        dec = codec.render_batch_runs(seeds, pixel_idx, slot="integ_dec")
        ref = codec.render_batch_runs(ref_seeds, pixel_idx, slot="integ_ref")
        m = dec.shape[-1]
        noise = (
            codec.noise_batch_runs(seeds, pixel_idx, amp, slot="integ_noise")
            if amp else None
        )
    else:
        dec = codec.render_batch(seeds, n_pixels, slot="integ_dec")
        ref = codec.render_batch(ref_seeds, n_pixels, slot="integ_ref")
        m = n_pixels
        noise = (
            codec.noise_batch(seeds, n_pixels, amp, slot="integ_noise")
            if amp else None
        )
    d16 = codec._pool_buf("integ_d16", dec.size, np.int16).reshape(dec.shape)
    d16[...] = dec
    if noise is not None:
        d16 += noise
        np.clip(d16, 0, 255, out=d16)
    d16 -= ref
    # squares up to 255² and row sums up to wh·255² overflow int16/32 →
    # square into int32, accumulate int64
    sq = codec._pool_buf("integ_sq", d16.size, np.int32).reshape(d16.shape)
    np.multiply(d16, d16, out=sq, dtype=np.int32, casting="unsafe")
    return sq.sum(axis=1, dtype=np.int64) / float(m)


def _group_mse(
    seeds: np.ndarray,
    ref_seeds: np.ndarray,
    amp: int,
    n_pixels: int,
    pixel_sample: int | None,
) -> np.ndarray:
    """MSE for one (n_pixels, amp) group, chunked to the pixel budget."""
    idx = None
    per_row = n_pixels
    if pixel_sample is not None and pixel_sample < n_pixels:
        # deterministic stratified sample of ALIGNED 8-pixel runs: one
        # run per stride window over the full words (the ragged tail
        # word, <8 px, is never sampled — at most 7 of w·h pixels)
        n_runs = max(1, pixel_sample // 8)
        n_words_full = max(1, n_pixels // 8)
        idx = np.unique(
            (np.arange(min(n_runs, n_words_full), dtype=np.float64)
             * n_words_full / min(n_runs, n_words_full)).astype(np.int64)
        ).astype(np.uint64)
        per_row = len(idx) * 8
    rows_per_chunk = max(1, _CHUNK_PIXEL_BUDGET // per_row)
    out = np.empty(len(seeds), dtype=np.float64)
    for lo in range(0, len(seeds), rows_per_chunk):
        hi = min(lo + rows_per_chunk, len(seeds))
        out[lo:hi] = _mse_rows(
            seeds[lo:hi], ref_seeds[lo:hi], amp, n_pixels, idx
        )
    return out


def integrity_violations(
    df: DataFrame,
    partition_expr: Column,
    expected_caption_expr: Column,
    psnr_threshold: float = PSNR_THRESHOLD_DB,
    pixel_sample: int | None = None,
    escalate_margin_db: float = 2.0,
) -> DataFrame:
    """VIOLATION_SCHEMA rows for integrity failures.

    ``pixel_sample=None`` → exact full-pixel compare (parity mode);
    ``pixel_sample=m`` → m-pixel estimate with exact escalation of every
    row reading below ``psnr_threshold + escalate_margin_db``."""
    prepared = df.select(
        partition_expr.cast("int").alias("partition_id"),
        "image_id",
        "bytes",
        "w",
        "h",
        "fmt",
        "caption",
        expected_caption_expr.alias("__expected_caption"),
    )
    thr = float(psnr_threshold)
    # PSNR ≥ thr  ⇔  MSE ≤ 255²·10^(-thr/10)
    mse_limit = 255.0 * 255.0 * (10.0 ** (-thr / 10.0))
    mse_escalate = 255.0 * 255.0 * (
        10.0 ** (-(thr + float(escalate_margin_db)) / 10.0)
    )

    def _coalesce(
        batches: Iterator[pd.DataFrame], min_rows: int = 40_000
    ) -> Iterator[pd.DataFrame]:
        """Merge Arrow batches (default ~10k rows) into ≥min_rows blocks
        so each (n_pixels, amp) render group is big enough to amortize
        numpy dispatch. Bounded memory: ~min_rows narrow rows."""
        pending: list[pd.DataFrame] = []
        count = 0
        for pdf in batches:
            pending.append(pdf)
            count += len(pdf)
            if count >= min_rows:
                yield pd.concat(pending, ignore_index=True)
                pending, count = [], 0
        if pending:
            yield pd.concat(pending, ignore_index=True)

    def check_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _coalesce(batches):
            out: list[tuple] = []
            caps = pdf["caption"].to_numpy(dtype=object)
            exps = pdf["__expected_caption"].to_numpy(dtype=object)
            ids = pdf["image_id"].to_numpy(dtype=object)
            parts = pdf["partition_id"].to_numpy()
            # caption equality: vectorized; NULL captions are handled by
            # the stats/schema checks, not flagged here
            cap_bad = (caps != exps) & (caps != None)  # noqa: E711
            for i in np.flatnonzero(cap_bad):
                out.append(
                    (int(parts[i]), ids[i], "caption",
                     f"caption mismatch: {caps[i]!r} != reference")
                )

            # header parse (the only per-row python; ~µs each), grouping
            # valid rows by (n_pixels, amp) for the vectorized pixel math
            n = len(pdf)
            seeds = np.zeros(n, dtype=np.uint64)
            ref_seeds = np.zeros(n, dtype=np.uint64)
            groups: dict[tuple[int, int], list[int]] = {}
            ws = pdf["w"].to_numpy()
            hs = pdf["h"].to_numpy()
            fmts = pdf["fmt"].to_numpy(dtype=object)
            for i, blob in enumerate(pdf["bytes"]):
                iid = ids[i]
                if blob is None:
                    out.append((int(parts[i]), iid, "bytes", "null payload"))
                    continue
                head = bytes(blob[:16])
                is_webp = (
                    head[:4] == webp.WEBP_RIFF
                    and head[8:12] == webp.WEBP_FOURCC
                )
                is_vp8l = is_webp and head[12:16] == b"VP8L"
                # lossy VP8 / extended VP8X decode through the system
                # libwebp when it is loadable (sources/webp_sys.py);
                # without it they fall to _sniff_unsupported below and
                # keep the distinct codec_unavailable reason
                is_lossy_webp = (
                    is_webp
                    and head[12:16] in (b"VP8 ", b"VP8X")
                    and _webp_sys_available()
                )
                if (head[:8] == png.PNG_MAGIC
                        or head[:3] == jpeg.JPEG_MAGIC
                        or is_vp8l or is_lossy_webp):
                    # real-decode mode: PNG / baseline-JPEG / WebP
                    # payloads decode end-to-end via the bundled
                    # codecs; pixels compare against the same reference
                    # under the same PSNR gate. Real rows carry
                    # explicit pixels, so the sampled fast path doesn't
                    # apply (decode already touches every byte).
                    if head[:8] == png.PNG_MAGIC:
                        dec, fname = png.decode_png_gray, "png"
                    elif head[:3] == jpeg.JPEG_MAGIC:
                        dec, fname = jpeg.decode_jpeg_gray, "jpeg"
                    else:
                        dec, fname = webp.decode_webp_gray, "webp"
                    out.extend(
                        _check_real_row(
                            int(parts[i]), iid, bytes(blob),
                            int(ws[i]), int(hs[i]), fmts[i], mse_limit, thr,
                            dec, fname,
                        )
                    )
                    continue
                known = _sniff_unsupported(head)
                if known is not None:
                    # recognized real-image container with no bundled
                    # decoder (VERDICT r5 #4): the payload may be
                    # perfectly valid, so reporting it as corruption
                    # would be a lie — the distinct reason lets triage
                    # separate "bad data" from "missing codec"
                    out.append(
                        (int(parts[i]), iid, "bytes",
                         f"codec_unavailable: recognized {known} "
                         "container, no bundled decoder")
                    )
                    continue
                try:
                    p = bytes(blob).split(b"|")
                    if p[0] != codec.MAGIC or len(p) != 6:
                        raise ValueError("bad magic/layout")
                    dfmt = p[1].decode()
                    dw, dh = int(p[2]), int(p[3])
                    seed, amp = int(p[4]), int(p[5])
                    # untrusted header: only 0 <= amp <= 127 keeps the
                    # noise span 2*amp+1 inside uint8, where the C kernel
                    # and the numpy path agree
                    if not 0 <= amp <= 127:
                        raise ValueError(f"noise amp {amp} outside [0, 127]")
                except Exception as e:  # noqa: BLE001
                    out.append(
                        (int(parts[i]), iid, "bytes",
                         f"undecodable payload: {e}")
                    )
                    continue
                if (dw, dh, dfmt) != (int(ws[i]), int(hs[i]), fmts[i]):
                    out.append(
                        (int(parts[i]), iid, "bytes",
                         f"header ({dfmt},{dw},{dh}) != columns "
                         f"({fmts[i]},{ws[i]},{hs[i]})")
                    )
                    continue
                seeds[i] = seed & 0xFFFFFFFFFFFFFFFF
                ref_seeds[i] = codec.ref_seed_py(iid)
                groups.setdefault((dw * dh, amp), []).append(i)

            for (wh, amp), rows in groups.items():
                ridx = np.asarray(rows, dtype=np.int64)
                g_seeds = seeds[ridx]
                g_refs = ref_seeds[ridx]
                mse = _group_mse(g_seeds, g_refs, amp, wh, pixel_sample)
                if pixel_sample is not None and pixel_sample < wh:
                    # escalate borderline estimates to the exact compare
                    esc = np.flatnonzero(mse > mse_escalate)
                    if len(esc):
                        mse[esc] = _group_mse(
                            g_seeds[esc], g_refs[esc], amp, wh, None
                        )
                for j in np.flatnonzero(mse > mse_limit):
                    i = int(ridx[j])
                    p_db = codec.psnr_from_mse(float(mse[j]))
                    out.append(
                        (int(parts[i]), ids[i], "bytes",
                         f"psnr {p_db:.1f} dB < {thr:.0f} dB")
                    )
            yield pd.DataFrame(
                out, columns=["partition_id", "image_id", "column", "detail"]
            )

    found = prepared.mapInPandas(check_batches, _OUT)
    return found.select(
        F.lit("integrity").alias("check"),
        "partition_id",
        "image_id",
        "column",
        "detail",
    ).to(VIOLATION_SCHEMA)
