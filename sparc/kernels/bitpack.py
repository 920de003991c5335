"""Vectorized bit-packing for widths 1..64 (including non-power-of-2).

Semantics mirror the reference's ``SerializationUtils.writeInts/readInts``
(``org/apache/orc/impl/SerializationUtils.java:495-703, 934-994``): values are
written MSB-first into a contiguous big-endian bit stream, padded with zero
bits to a byte boundary.  Implementation is numpy, not an unrolled-loop port:

- widths 8/16/32/64 are a cast to or from a big-endian unit of that size;
- ``pack`` of at least ``WORD_PACK_MIN`` values builds the output words
  directly.  Eight values of ``w`` bits fill exactly ``w`` bytes, which are
  ``ceil(w/8)`` big-endian 64-bit words with the last one trimmed.
  Neighbouring values are first merged while they fit a word, ``(a << w) |
  b`` holding both at ``2w`` bits (up to three times, which leaves one
  lane per group at ``w <= 8``), and then each lane is shifted into the
  word or words its bits fall in and ORed there: a scalar shift per lane,
  so a few numpy calls over ``n/8`` values.  Below ``WORD_PACK_MIN`` those
  calls cost more than the bit matrix: ``pack`` takes 24/40/48/56 as byte
  slices of the big-endian 8-byte image, and at other widths scales each
  value's bits to the top of the narrowest big-endian unit that holds them
  and re-packs only those bit columns;
- ``unpack`` at any other width up to 57 bits uses strided word loads.
  Eight values of ``w`` bits fill exactly ``w`` bytes, so value ``i`` of
  every 8-value group starts at the same byte and bit offset, ``i*w // 8``
  and ``i*w % 8``, of its group.  One strided view of the group-aligned
  bytes reads, for every value, the 8-byte big-endian word at its byte
  offset (``i*w % 8 + w <= 64``, so the word holds the whole value).  A
  multiply by ``2**(i*w % 8)`` per lane drops the bits before the value and
  one scalar right shift by ``64 - w`` drops those after it (at whole-byte
  widths every offset is 0 and the view is one-dimensional).  The loads run
  over a zero-padded copy of the input, so the last group never reads past
  the caller's buffer.  The cost is a few numpy calls per ``unpack``, with
  no per-value bit matrix.  Below ``WORD_UNPACK_MIN`` values (and above 57
  bits) an ``(n, 8)`` byte matrix (whole-byte widths) or an ``(n, 64)`` bit
  matrix has the lower fixed cost and is used instead.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64

# Fewest values for which ``unpack`` takes the strided-word path.  The two
# paths cost about the same near 256 values; at 16 the bit matrix takes 5 µs
# against 9-13 µs, at 512 the words take 9-11 µs against 14-16 µs (numpy
# 1.26, 4-vCPU x86-64 VM).
WORD_UNPACK_MIN = 512
# Fewest values for which ``pack`` builds words, per width.  The words'
# fixed cost grows with the lanes and words of a group and their cost per
# value is 3-13 ns against the bit matrix's 12-30 ns, so they break even
# near 1,536 values below 8 bits, 2,048 below 16, 4,096 below 32 and
# 6,144 above; the byte slices at 24/40/48/56 bits are cheaper still and
# hold out to 8,192 and 16,384 values (numpy 1.26, 4-vCPU x86-64 VM).
WORD_PACK_MIN = np.array(
    [
        (8_192 if w == 24 else 16_384) if w % 8 == 0
        else 1_536 if w < 8 else 2_048 if w < 16 else 4_096 if w < 32 else 6_144
        for w in range(65)
    ]
)
_LANE_BITS = np.arange(8) * np.arange(65)[:, None]  # [w, i] = i*w
# per width: the byte offset of each lane in its group, and the multiplier
# that shifts the lane's first bit to the top of its 8-byte word
_LANE_BYTE = _LANE_BITS // 8
_LANE_MUL = (U64(1) << (_LANE_BITS % 8).astype(U64)).astype(U64)


def _word_plan(width: int) -> tuple[int, int, list[tuple[int, int, int, bool]]]:
    """How :func:`_pack_words` lays out an 8-value group at ``width`` bits:
    (merges, words, parts).  Merging pairs ``merges`` times leaves
    ``8 >> merges`` lanes of ``width << merges`` bits; a part ``(lane,
    word, shift, first)`` moves a lane's bits into one of the group's
    ``words`` 64-bit words, by a left shift (``shift >= 0``) or a right
    shift by ``-shift`` for the head of a lane that runs on into the next
    word; ``first`` marks the part that starts its word."""
    merges = 0
    while merges < 3 and width << (merges + 1) <= 64:
        merges += 1
    lane_w = width << merges
    parts = []
    for lane in range(8 >> merges):
        word, at = divmod(lane * lane_w, 64)
        parts.append((lane, word, 64 - at - lane_w, at == 0))
        if at + lane_w > 64:
            parts.append((lane, word + 1, 128 - at - lane_w, True))
    return merges, (width + 7) // 8, parts


_WORD_PLANS = [None] + [_word_plan(w) for w in range(1, 64)]


def _pack_words(values: np.ndarray, width: int) -> bytes:
    """:func:`pack` at ``width`` < 64 by building each group's words."""
    n = values.size
    groups = (n + 7) // 8
    merges, nw, parts = _WORD_PLANS[width]
    v = np.zeros(groups * 8, dtype=U64) if n % 8 else np.empty(n, dtype=U64)
    np.bitwise_and(values, U64((1 << width) - 1), out=v[:n])
    lane_w = width
    for _ in range(merges):
        pair = v[0::2] << U64(lane_w)
        pair |= v[1::2]
        v, lane_w = pair, 2 * lane_w
    lanes = v.reshape(groups, -1)
    words = np.empty((groups, nw), dtype=U64)
    for lane, word, shift, first in parts:
        part = lanes[:, lane] << U64(shift) if shift >= 0 else lanes[:, lane] >> U64(-shift)
        if first:
            words[:, word] = part
        else:
            words[:, word] |= part
    out = words.astype(">u8").view(np.uint8).reshape(groups, 8 * nw)
    if 8 * nw > width:
        out = np.ascontiguousarray(out[:, :width])
    return out.reshape(-1)[: (n * width + 7) // 8].tobytes()


def pack(values: np.ndarray, width: int) -> bytes:
    """Pack uint64 values at ``width`` bits each, MSB-first, zero-padded."""
    values = np.ascontiguousarray(values, dtype=U64)
    n = values.size
    if n == 0 or width == 0:
        return b""
    if width in (8, 16, 32, 64):
        # the cast to a big-endian unit of exactly ``width`` bits keeps
        # the low bits
        return values.astype(f">u{width // 8}").tobytes()
    if n >= WORD_PACK_MIN[width]:
        return _pack_words(values, width)
    if width % 8 == 0:
        # byte-aligned fast path: take the low width/8 bytes of each
        # big-endian 8-byte representation
        nbytes = width // 8
        be = values.astype(">u8").view(np.uint8).reshape(n, 8)
        return np.ascontiguousarray(be[:, 8 - nbytes :]).tobytes()
    # scale the low ``width`` bits to the top of the narrowest big-endian
    # unit that holds them (the cast truncates the rest), unpack just those
    # ``width`` bit columns and re-pack the ravel
    nb = 1 if width < 8 else 2 if width < 16 else 4 if width < 32 else 8
    top = (values * U64(1 << (8 * nb - width))).astype(f">u{nb}")
    bits = np.unpackbits(top.view(np.uint8).reshape(n, nb), axis=1, count=width)
    return np.packbits(bits).tobytes()


def unpack(data: bytes | memoryview, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`pack` → uint64 array of length ``n``."""
    if n == 0 or width == 0:
        return np.zeros(n, dtype=U64)
    nbytes = (n * width + 7) // 8
    if len(data) < nbytes:
        raise ValueError(f"bitpack: {len(data)} bytes hold fewer than {n} values")
    if width in (8, 16, 32, 64):
        return np.frombuffer(data, dtype=f">u{width // 8}", count=n).astype(U64)
    if n < WORD_UNPACK_MIN and width % 8 == 0:
        nb = width // 8
        be = np.zeros((n, 8), dtype=np.uint8)
        be[:, 8 - nb :] = np.frombuffer(data, dtype=np.uint8, count=nbytes).reshape(n, nb)
        return be.view(">u8").reshape(n).astype(U64)
    if n < WORD_UNPACK_MIN or width > 57:
        raw = np.frombuffer(data, dtype=np.uint8, count=nbytes)
        bits = np.unpackbits(raw)[: n * width].reshape(n, width)
        full = np.zeros((n, 64), dtype=np.uint8)
        full[:, 64 - width :] = bits
        return np.packbits(full, axis=1).view(">u8").reshape(n).astype(U64)
    groups = (n + 7) // 8
    # the packed bytes padded to whole groups plus the 8 bytes the last
    # value's word may span
    buf = bytes(data[:nbytes]) + bytes(groups * width + 8 - nbytes)
    if width % 8 == 0:  # value i's word starts at byte i*width/8
        out = np.ndarray(n, ">u8", buf, strides=(width // 8,)).astype(U64)
        out >>= U64(64 - width)
        return out
    lanes = (7 * width) // 8 + 1  # byte offsets a lane can start at
    words = np.ndarray((groups, lanes), ">u8", buf, strides=(width, 1))
    out = np.empty((groups, 8), dtype=U64)
    np.multiply(words[:, _LANE_BYTE[width]], _LANE_MUL[width], out=out)
    out >>= U64(64 - width)
    return out.reshape(-1)[:n]


def packed_size(n: int, width: int) -> int:
    return (n * width + 7) // 8
