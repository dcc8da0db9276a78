""".xz decode through the in-process liblzma, one stream at a time.

A .xz file is a list of streams separated by 4-byte-aligned null
padding (tukaani.org .xz file-format spec).  :func:`decode_xz` hands
each stream to its own ``lzma.LZMADecompressor(format=FORMAT_XZ)``,
which verifies every container CRC32, the index, and the per-block
plaintext check (CRC32 / CRC64 / SHA-256), and then checks what
liblzma leaves to the caller:

- every stream must end (``eof``) -- truncation is an error, not a
  short answer;
- only whole 4-byte groups of nulls may sit between and after
  streams, and whatever follows them must be another valid stream.
  ``lzma.decompress`` is NOT used: it drops a corrupt non-first
  stream as "trailing garbage" and returns the prefix;
- the check type must be one liblzma verifies (none, CRC32, CRC64,
  SHA-256); a reserved check id would otherwise decode unverified;
- output is capped through ``max_length`` (decompression bombs
  raise instead of exhausting memory).

Error contract: only ``ValueError`` escapes (quarantine contract,
fuzz-pinned like every other parser).

The producer below is the same library (``lzma.compress``), so the
round trip alone proves little; `xz_full_decode`'s oracle recomputes
every value from the synthesis plan instead.

Parity note: the reference (trongnghia2406/DataWarehouseProject) has
no codec layer at all (MySQL ETL, ``etl/load_*.py``); this extends
the beyond-reference archive family (gzip/bzip2/xz) that a 100 TB
crawl corpus actually ships in.
"""

from __future__ import annotations

import lzma

_XZ_MAGIC = b"\xfd7zXZ\x00"
_VERIFIED_CHECKS = (
    lzma.CHECK_NONE,
    lzma.CHECK_CRC32,
    lzma.CHECK_CRC64,
    lzma.CHECK_SHA256,
)


def decode_xz(payload: bytes, max_output: int = 1 << 28) -> bytes:
    """Decode a complete .xz file (all streams, all blocks) with every
    integrity check verified; any malformation, truncation or output
    beyond ``max_output`` bytes raises ValueError."""
    if payload[:6] != _XZ_MAGIC:
        raise ValueError("not an xz file")
    out = bytearray()
    rest = payload
    while rest:
        d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
        try:
            out += d.decompress(rest, max_length=max_output - len(out) + 1)
        except lzma.LZMAError as exc:
            raise ValueError(f"corrupt xz stream: {exc}") from exc
        if len(out) > max_output:
            raise ValueError("xz output exceeds cap")
        if not d.eof:
            raise ValueError("truncated xz stream")
        if d.check not in _VERIFIED_CHECKS:
            raise ValueError(f"unknown xz check type {d.check}")
        rest = d.unused_data
        body = rest.lstrip(b"\x00")
        if (len(rest) - len(body)) % 4:
            raise ValueError("xz stream padding not a multiple of 4")
        rest = body
    return bytes(out)


# ---------------------------------------------------------------------------
# Synthesis for the corpus query
# ---------------------------------------------------------------------------


def synth_xz_text_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``60 + (seed*17) % 200``
    lines; line i is ``'line {i} of doc {seed} value {(seed*31+i*7)%9973}'``.
    Check type rotates none/CRC32/CRC64/SHA-256 by seed % 4; odd
    seeds ship as TWO concatenated .xz streams split at line
    ``n_lines // 2``."""
    n_lines = 60 + (seed * 17) % 200
    return {
        "n_lines": n_lines,
        "check_type": (0, 1, 4, 10)[seed % 4],
        "split": n_lines // 2 if seed % 2 else None,
    }


def _plan_text(seed: int, lo: int, hi: int) -> bytes:
    return "".join(
        f"line {i} of doc {seed} value {(seed * 31 + i * 7) % 9973}\n"
        for i in range(lo, hi)
    ).encode("ascii")


def synth_xz_text(seed: int) -> bytes:
    """REAL .xz bytes from the stdlib producer over the deterministic
    text plan (the `xz_full_decode` corpus)."""
    plan = synth_xz_text_plan(seed)
    n, split = plan["n_lines"], plan["split"]
    parts = [(0, n)] if split is None else [(0, split), (split, n)]
    out = b""
    for lo, hi in parts:
        out += lzma.compress(
            _plan_text(seed, lo, hi),
            format=lzma.FORMAT_XZ,
            check=plan["check_type"],
        )
    return out
