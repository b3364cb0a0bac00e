"""Spark-free kernels: CCDC, codecs, image decoders, text ops."""

from __future__ import annotations

import functools
import struct

# Errors a bytes parser raises when it walks off malformed input: short
# reads, missing table entries, a `next()` that finds nothing.
_MALFORMED = (struct.error, IndexError, KeyError, StopIteration)


def decode_guard(decode):
    """Wrap a decoder so that any parse failure on malformed bytes surfaces
    as ValueError, the error type the multimodal stub-policy wrappers
    absorb; a malformed image or codec blob must never kill a Spark task."""

    @functools.wraps(decode)
    def guarded(data: bytes):
        try:
            return decode(data)
        except _MALFORMED as exc:
            raise ValueError(f"malformed bytes: {exc!r}") from exc

    return guarded
