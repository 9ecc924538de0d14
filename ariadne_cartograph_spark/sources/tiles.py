"""Tile sources (SURVEY.md §2.1 S2/S3): the reference fetches XYZ
raster tiles over HTTP per *distinct* (x,y,z) with a dict cache
(`/root/reference/dataproviders.py:79-105`). The engine replaces the
side-effecting cache with dataflow: the enrichment sampler
(``operators.enrich``) groups its pixels by tile, so each distinct
tile is one group, and the group calls its provider's tile source
once — same fetch amplification (1 GET per distinct tile, BASELINE.md),
sharded across executors, with no tile bytes moving through the plan.

A tile source is a function ``(z, x, y) → bytes | None``:

- the default (a ``Provider`` without ``tile_source``) is
  ``synth_tile_array``: deterministic closed-form pixels (FIXTURES.md
  §7) — grayscale v = (px+py+x+y+z) mod 256; RGB r=px, g=(px+py),
  b=py (mod 256). Stored as raw row-major uint8 bytes (mode 'L': 1
  byte/px; 'RGB': 3). No image libs needed; the pure-Python oracle
  recomputes values exactly.
- ``http_tiles`` builds an HTTP GET fetcher (no network in tests —
  SURVEY.md §5.2). Fetch failures yield None → NaN samples (the
  reference's crash-on-failed-fetch, `dataproviders.py:103-105`, is a
  documented deviation: we propagate instead, P11).

PNG decode: this container has no image codecs — ``decode_tile``
handles mode 'L'/'RGB' raw bytes natively and raises NotImplementedError
for 'png' unless PIL is importable (multimodal stub contract).
"""

from __future__ import annotations

from collections.abc import Callable
from string import Template

import numpy as np

# One-time real-codec probe (see decode_tile): failed imports are not
# cached by Python, so this must not run per decoded tile.
try:
    from PIL import Image as _PIL_IMAGE  # noqa: N816  (not in this container)
except Exception:
    _PIL_IMAGE = None


def synth_tile_array(x: int, y: int, z: int, mode: str, tile_size: int) -> np.ndarray:
    px = np.arange(tile_size, dtype=np.int64)
    PX, PY = np.meshgrid(px, px, indexing="xy")  # PX varies along axis 1
    if mode == "L":
        return ((PX + PY + x + y + z) % 256).astype(np.uint8)
    if mode == "RGB":
        r = (PX % 256).astype(np.uint8)
        g = ((PX + PY) % 256).astype(np.uint8)
        b = (PY % 256).astype(np.uint8)
        return np.stack([r, g, b], axis=-1)
    raise ValueError(f"unknown mode {mode}")


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# PNG color type → samples per pixel (spec §11.2.2); palette and
# 16-bit depths are out of scope for map tiles (raise clearly below).
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(img: bytes) -> np.ndarray:
    """Minimal stdlib PNG decoder (zlib + struct — public spec,
    RFC 2083 / ISO 15948): 8-bit depth, non-interlaced, color types
    greyscale / RGB / grey+alpha / RGBA, all five scanline filters
    (None, Sub, Up, Average, Paeth) reconstructed vectorized per row.
    Covers what real XYZ tile servers emit; palette/16-bit/interlaced
    payloads raise NotImplementedError rather than mis-decode. Returns
    HxW (grey) or HxWxC uint8."""
    import struct
    import zlib

    if img[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, width = 8, None
    idat = bytearray()
    while pos + 8 <= len(img):
        (length,), ctype = struct.unpack(">I", img[pos:pos + 4]), img[pos + 4:pos + 8]
        data = img[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"PNG depth={depth} color={color} interlace={interlace}: "
                    "only 8-bit non-interlaced grey/RGB/LA/RGBA supported"
                )
            ch = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG scanline payload size mismatch")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters, lines = raw[:, 0], raw[:, 1:].astype(np.int32)
    out = np.zeros((height, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(height):
        line, f = lines[r].copy(), int(filters[r])
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 1:  # Sub: mod-256 addition is associative → per-
            # channel cumsum instead of a per-byte Python loop
            cur = line
            for c in range(ch):
                cur[c::ch] = np.cumsum(cur[c::ch]) & 0xFF
        elif f in (3, 4):  # Average / Paeth: data-dependent left
            # recursion (floor div / conditional predictor) — loop
            cur = line
            for i in range(stride):
                a = cur[i - ch] if i >= ch else 0  # left
                b = prev[i]  # up
                if f == 3:
                    cur[i] = (cur[i] + ((a + b) >> 1)) & 0xFF
                else:
                    c = prev[i - ch] if i >= ch else 0  # upper-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[r] = cur
        prev = out[r]
    arr = out.astype(np.uint8)
    return arr.reshape(height, width) if ch == 1 else arr.reshape(height, width, ch)


def decode_tile(img: bytes, mode: str, tile_size: int) -> np.ndarray:
    """bytes → HxW (L) or HxWx3 (RGB) uint8 array."""
    if mode in ("L", "RGB"):
        arr = np.frombuffer(img, dtype=np.uint8)
        if mode == "L":
            return arr.reshape(tile_size, tile_size)
        return arr.reshape(tile_size, tile_size, 3)
    if mode == "png":
        # Real codec first when available; else the stdlib decoder
        # above (same output for the supported tile shapes — pinned by
        # round-trip tests in tests/test_png_decode.py). The PIL probe
        # runs once at module import: a failed import is not cached in
        # sys.modules, so probing here made every decoded tile pay a
        # sys.path search (guide §4: init once per task, not per call).
        if _PIL_IMAGE is not None:
            from io import BytesIO

            return np.asarray(_PIL_IMAGE.open(BytesIO(img)))
        return decode_png(img)
    raise ValueError(f"unknown mode {mode}")




def http_tiles(
    url_template: str,
    headers: dict | None = None,
    max_retries: int = 3,
    backoff_s: float = 0.5,
    rate_limit_per_s: float | None = None,
    timeout_s: float = 30.0,
) -> Callable[[int, int, int], bytes | None]:
    """A tile source that GETs ``url_template`` (reference S2
    semantics, ${x}/${y}/${z} Template — `dataproviders.py:96`) with
    ``headers``. One *logical* GET per call; failures → None (P11
    fixed).

    Egress politeness (a planet-scale import fans the sampler out
    across every executor — an impolite fetch loop is a self-inflicted
    DDoS on the tile service):

    - transient failures (connection errors, 5xx, 429) retry up to
      ``max_retries`` times with exponential backoff starting at
      ``backoff_s`` (deterministic doubling), honoring a numeric
      ``Retry-After`` response header when the server sends one;
    - permanent client errors (404 and other non-429 4xx) do NOT
      retry — they are None immediately;
    - ``rate_limit_per_s`` paces consecutive GETs of one fetcher
      (token spacing, retries included). The pacing state lives in the
      fetcher, and the sampler deserializes its fetcher once per task,
      so the pace holds *per partition*: cluster-wide egress is bounded
      by partitions × rate.
    """
    import time

    min_interval = 1.0 / rate_limit_per_s if rate_limit_per_s else 0.0
    last_req = 0.0

    def fetch(z: int, x: int, y: int) -> bytes | None:
        nonlocal last_req
        try:
            import requests
        except ImportError:
            return None
        url = Template(url_template).substitute({"x": x, "y": y, "z": z})
        delay = backoff_s
        for attempt in range(max_retries + 1):
            if min_interval:
                wait = last_req + min_interval - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
            resp = None
            try:
                last_req = time.monotonic()
                resp = requests.get(url, headers=headers, timeout=timeout_s)
            except Exception:
                resp = None  # connection-level failure: retryable
            if resp is not None:
                if resp.status_code < 400:
                    return resp.content
                if resp.status_code != 429 and resp.status_code < 500:
                    return None  # permanent client error: no retry
            if attempt == max_retries:
                return None  # None propagation, not a crash
            retry_after = None
            if resp is not None:
                ra = resp.headers.get("Retry-After")
                try:
                    retry_after = float(ra) if ra is not None else None
                except ValueError:
                    retry_after = None
                # The header is server-controlled: clamp so a
                # malformed negative value can't crash the executor
                # task (time.sleep raises on negatives — the
                # "failures → None, not a crash" contract) and a
                # hostile/buggy huge value can't hang the slot.
                if retry_after is not None:
                    retry_after = max(0.0, min(retry_after, 60.0))
            time.sleep(retry_after if retry_after is not None else delay)
            delay *= 2
        return None

    return fetch
