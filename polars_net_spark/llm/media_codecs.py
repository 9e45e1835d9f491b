"""Pure-stdlib/numpy media decoders for UNCOMPRESSED formats.

The container has no PIL/opencv/ffmpeg, so compressed formats (JPEG/PNG/MP4)
stay honestly stubbed in multimodal.py — but BMP (24-bpp uncompressed), PPM
(P6) and WAV (PCM) need nothing beyond struct/wave/numpy, so those are REAL
decoders: real pixel arrays, real sample arrays, real aHash fingerprints.

Everything here is plain-Python per payload; the distributed entry point is
``multimodal.decode_media_features`` (``_arrow.map_batches``, Arrow batches).
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

__all__ = [
    "split_ppm_stream",
    "resize_nearest",
    "sniff_mime",
    "decode_bmp",
    "decode_ppm",
    "decode_wav",
    "ahash64",
    "audio_fingerprint64",
]


def sniff_mime(b: bytes) -> str:
    if b[:2] == b"BM":
        return "image/bmp"
    if b[:2] == b"P6":
        return "image/x-portable-pixmap"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "audio/wav"
    if b[:2] == b"\xff\xd8":
        return "image/jpeg"
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "image/png"
    if b[:4] == b"GIF8":
        return "image/gif"
    return "application/octet-stream"


def decode_bmp(b: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bpp BITMAPINFOHEADER BMP to an (H, W, 3)
    uint8 RGB array. Raises ValueError on anything else (compressed /
    paletted BMPs would need a real imaging lib)."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", b, 10)[0]
    header_size = struct.unpack_from("<I", b, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    width, height = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bpp BMP supported (bpp={bpp}, comp={compression})")
    flipped = height > 0  # positive height = bottom-up row order
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3  # rows pad to 4 bytes
    px = np.frombuffer(b, dtype=np.uint8, count=row_stride * height, offset=data_offset)
    px = px.reshape(height, row_stride)[:, : width * 3].reshape(height, width, 3)
    if flipped:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR -> RGB


def decode_ppm(b: bytes) -> np.ndarray:
    """Decode a binary P6 PPM (maxval <= 255) to an (H, W, 3) uint8 array."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header = magic, width, height, maxval as whitespace-separated tokens
    # (comments stripped), then a single whitespace byte before pixel data
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(b[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    px = np.frombuffer(b, dtype=np.uint8, count=width * height * 3, offset=pos)
    return px.reshape(height, width, 3).copy()


def decode_wav(b: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a PCM WAV to (sample_rate, n_channels, samples float64 in
    [-1, 1], shape (n_frames, n_channels))."""
    with wave.open(io.BytesIO(b), "rb") as w:
        rate, nch, sw = w.getframerate(), w.getnchannels(), w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported sample width {sw}")
    return rate, nch, x.reshape(-1, nch)


def audio_fingerprint64(samples: np.ndarray) -> int:
    """64-bit energy-envelope fingerprint: mono-mix, split into 64 equal
    segments, bit i = (segment RMS > median segment RMS). Amplitude-invariant
    (median threshold) and robust to codec-level noise — the audio analog of
    :func:`ahash64` for near-dup candidate generation."""
    mono = samples.mean(axis=1) if samples.ndim == 2 else samples
    n = len(mono)
    if n < 64:
        mono = np.pad(mono, (0, 64 - n))
        n = 64
    edges = (np.arange(65) * n) // 64
    rms = np.array([
        np.sqrt((mono[edges[i]: max(edges[i + 1], edges[i] + 1)] ** 2).mean())
        for i in range(64)
    ])
    bits = rms > np.median(rms)
    out = 0
    for bit in bits:
        out = (out << 1) | int(bit)
    return out - (1 << 64) if out >= (1 << 63) else out


def ahash64(px: np.ndarray) -> int:
    """64-bit average-hash image fingerprint: grayscale, nearest-neighbor
    resample to 8x8 (area-mean), threshold at the mean. Standard perceptual
    pre-filter for image near-dup candidate generation — Hamming-close
    hashes ⇒ visually similar images."""
    gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    # area-mean downsample via edge binning (exact, no interpolation lib);
    # for dims < 8 a cell may collapse — reuse the single covering pixel
    ye = (np.arange(9) * h) // 8
    xe = (np.arange(9) * w) // 8
    cells = np.empty((8, 8))
    for i in range(8):
        y0, y1 = ye[i], max(ye[i + 1], ye[i] + 1)
        y0 = min(y0, h - 1)
        for j in range(8):
            x0, x1 = xe[j], max(xe[j + 1], xe[j] + 1)
            x0 = min(x0, w - 1)
            cells[i, j] = gray[y0:y1, x0:x1].mean()
    bits = (cells > cells.mean()).flatten()
    out = 0
    for bit in bits:
        out = (out << 1) | int(bit)
    return out - (1 << 64) if out >= (1 << 63) else out  # signed 64 for Spark


def split_ppm_stream(b: bytes) -> "list[np.ndarray]":
    """Split a concatenated-P6 'video' payload into frames.

    P6 streams are self-delimiting (header declares w*h*3 pixel bytes), so a
    sequence of P6 images is a legitimate uncompressed video container —
    the same role y4m plays for real pipelines.  Returns decoded (H, W, 3)
    uint8 frames; raises ValueError at the first malformed frame."""
    frames = []
    pos = 0
    n = len(b)
    while pos < n:
        if b[pos : pos + 2] != b"P6":
            raise ValueError(f"frame boundary at byte {pos} is not a P6 header")
        # parse header tokens to find the pixel block length
        p, tokens = pos + 2, []
        while len(tokens) < 3:
            while p < n and b[p : p + 1].isspace():
                p += 1
            if b[p : p + 1] == b"#":
                while p < n and b[p : p + 1] != b"\n":
                    p += 1
                continue
            start = p
            while p < n and not b[p : p + 1].isspace():
                p += 1
            tokens.append(int(b[start:p]))
        p += 1
        w, h, _maxval = tokens
        end = p + w * h * 3
        frames.append(decode_ppm(b[pos:end]))
        pos = end
    return frames


def resize_nearest(px: "np.ndarray", out_h: int, out_w: int) -> "np.ndarray":
    """Nearest-neighbour resize of an (H, W, C) array — pure numpy, the
    deterministic resize kernel for the uncompressed decode path (real
    pipelines swap in PIL/opencv; the operator shape stays identical)."""
    h, w = px.shape[:2]
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return px[rows][:, cols]
