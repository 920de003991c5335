"""ORC RLEv2 integer coding: SHORT_REPEAT / DIRECT / PATCHED_BASE / DELTA.

Wire format is the reference's RLEv2 stream format
(``org/apache/orc/impl/RunLengthIntegerWriterV2.java`` — sub-encoding writers
:188-411, ``determineEncoding`` :433-559, ``preparePatchedBlob`` :571-668;
reader ``RunLengthIntegerReaderV2.java:87-316``), with the same constants
(MAX_SCOPE=512, MIN_REPEAT=3, MAX_SHORT_REPEAT_LENGTH=10, BASE_VALUE_LIMIT=2^56)
and the same header layouts, so sizes track the reference closely.

The *encoder structure* is deliberately different (SURVEY.md §7: semantics-
equal, structure-different): instead of a per-value state machine we segment
the whole array with vectorized delta-run detection, then choose the cheapest
sub-encoding per 512-value chunk by *computed size* (which can only tie or
beat the reference's heuristic).

Encode cost model: one pass takes the deltas and finds the fixed-delta
runs worth extracting (a scan of the run-change flags as 64-bit words
rules out most arrays at once).  One batched plan then covers every chunk
of the remaining segments with a few full-length passes: per-chunk min
and max of the values and of the deltas, the zigzag values only where a
chunk's choice needs them, and the base-reduced values where a chunk may
take PATCHED_BASE.  Every 100p width follows from those extremes.  The
90p gap test and the 95p PATCHED_BASE width are counts of the values
above one width per chunk, and only a chunk with outliers under its 100p
width builds a width histogram.  Payloads are bit-packed with one
``bitpack.pack`` call per distinct width, straight from the source array
when that width's chunks lie back to back in it.  Python-level work per
chunk is limited to its header bytes and a slice of the packed output,
so numpy calls scale with segments, not chunks or values.

Decode cost model, the mirror image: one Python pass reads the run headers
(about a microsecond per run, the only per-run Python) and queues each
payload under its bit width; it also reads the PATCHED_BASE patch entries
(at most 31 a run; a pure frame-of-reference run's zero entry is skipped).
Each width's payloads are unpacked with one ``bitpack.unpack`` call, and
each sub-encoding present is assembled with vector ops over all of its
runs: zigzag for DIRECT; for PATCHED_BASE, one OR of every patch and the
bases added; ``first + j*step`` for SHORT_REPEAT and fixed DELTA; one
cumulative sum that restarts at every run for variable DELTA.  So numpy
calls scale with the widths and sub-encodings a stream holds, not with its
runs or values, and a sub-encoding the stream lacks costs nothing.

All values are treated as two's-complement int64 (like the reference's
``long``); ``signed`` controls zigzag in SHORT_REPEAT/DIRECT and the base
varint in DELTA.
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np

from . import bitpack
from .util import (
    _POW2,
    _WIDTH_TO_CODE,
    CLOSEST_ALIGNED_BITS,
    CLOSEST_FIXED_BITS,
    I64,
    U64,
    bits_required,
    decode_bit_width,
    read_vslong,
    read_vulong,
    to_signed64,
    write_vslong,
    write_vulong,
    zigzag_decode,
    zigzag_encode,
)

MAX_SCOPE = 512
MIN_REPEAT = 3
MAX_SHORT_REPEAT_LENGTH = 10
BASE_VALUE_LIMIT = 1 << 56
# Values per batched plan when encoding with cuts.  Larger batches pay the
# planner's fixed cost less often, but their temporaries outgrow what the
# allocator keeps mapped: on a 4-vCPU Xeon VM a 75,000-value plan took
# ~1,800 page faults per call and ran slower than 8 per-group calls.
BATCH_VALUES = 40_000
# Most bytes one run can take: a PATCHED_BASE header (4), an 8-byte base,
# 512 values at 64 bits and 31 patch entries at 64 bits.
MAX_RUN_BYTES = 4 + 8 + MAX_SCOPE * 8 + 31 * 8

# Minimum fixed-delta run length worth breaking a variable segment for.
# The reference extracts runs at MIN_REPEAT=3 because its per-value state
# machine is free in Java; for vectorized encoding, extracting tiny runs
# fragments segments (hurting both throughput and, usually, size — short
# runs compress better inside a 512-value DELTA/DIRECT chunk than as
# standalone 2-byte-header runs).  Runs shorter than this stay inline.
MIN_EXTRACT_RUN = 16

_SHORT_REPEAT, _DIRECT, _PATCHED_BASE, _DELTA = 0, 1, 2, 3


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def encode(
    values: np.ndarray, signed: bool, aligned: bool = False, cuts=None
) -> bytes | list[bytes]:
    """Encode an int64 array to an RLEv2 byte stream.

    With ``cuts`` (ascending value offsets, as for ``np.split``) the array is
    cut into ``len(cuts) + 1`` groups and one stream per group is returned,
    each byte-identical to encoding that group alone: runs and 512-value
    chunks restart at every cut.  This is what a row-indexed writer needs,
    whose streams restart at every row group.  Consecutive groups are
    planned together in batches of up to ``BATCH_VALUES`` values, so the
    planner's fixed cost is paid once per batch, not once per group.
    """
    v = np.ascontiguousarray(values, dtype=I64)
    if cuts is None:
        return _encode_groups(v, [0, v.size], signed, aligned)[0]
    bounds = [0, *(int(c) for c in cuts), v.size]
    blobs: list[bytes] = []
    g = 0
    while g < len(bounds) - 1:
        end = g + 1
        while end < len(bounds) - 1 and bounds[end + 1] - bounds[g] <= BATCH_VALUES:
            end += 1
        base = bounds[g]
        blobs += _encode_groups(
            v[base : bounds[end]], [b - base for b in bounds[g : end + 1]],
            signed, aligned,
        )
        g = end
    return blobs


def _encode_groups(
    v: np.ndarray, bounds: list[int], signed: bool, aligned: bool
) -> list[bytes]:
    """One stream per group ``v[bounds[k]:bounds[k + 1]]``, from one
    segmentation and one batched plan of every group's variable segments."""
    n = v.size

    # --- vectorized segmentation ------------------------------------------
    # d[i] = v[i+1] - v[i], wrapping like the reference's long; the last
    # entry, after the last value, is 0.  A delta run of length L covers
    # L+1 values.
    d = np.empty(n, dtype=I64)
    if n:
        np.subtract(v[1:], v[:-1], out=d[:-1])
        d[-1] = 0
    ops = _extracted_runs(v, d, bounds)
    spans = [(lo, hi) for lo, hi, delta in ops if delta is None]
    var_blobs = iter(_encode_variable(v, d, spans, signed, aligned))
    out = bytearray()
    ends = [0]  # group k's stream is out[ends[k]:ends[k + 1]]
    for lo, hi, delta in ops:
        while lo >= bounds[len(ends)]:
            ends.append(len(out))
        if delta is None:
            out += next(var_blobs)
        else:
            _encode_fixed_delta_run(out, v[lo:hi], delta, signed)
    ends += [len(out)] * (len(bounds) - len(ends))
    if len(ends) == 2:
        return [bytes(out)]
    return [bytes(out[a:b]) for a, b in zip(ends, ends[1:])]


def _extracted_runs(
    v: np.ndarray, d: np.ndarray, bounds: list[int]
) -> list[tuple[int, int, int | None]]:
    """The stream as ops ``(lo, hi, run delta)`` in value order: variable
    segments ``v[lo:hi]`` (delta None, split at the cuts in ``bounds``)
    and the fixed-delta runs of at least ``MIN_EXTRACT_RUN`` values taken
    out of them."""
    ops: list[tuple[int, int, int | None]] = []

    def variable(lo: int, hi: int) -> None:
        while lo < hi:
            end = min(hi, bounds[bisect_right(bounds, lo)])
            ops.append((lo, end, None))
            lo = end

    n = v.size
    # differs[i]: a delta run starts at d[i + 1].  The delta across a cut
    # (index c-1) is a run of its own, too short to extract, so no run
    # spans two groups.
    differs = d[1 : n - 1] != d[: n - 2] if n > 2 else np.ones(0, dtype=bool)
    if len(bounds) > 2:
        at_cuts = np.array(bounds[1:-1], dtype=np.int64)
        at_cuts = np.concatenate((at_cuts - 2, at_cuts - 1))
        differs[at_cuts[(at_cuts >= 0) & (at_cuts < differs.size)]] = True
    # An extractable run has MIN_EXTRACT_RUN - 1 equal deltas, so
    # MIN_EXTRACT_RUN - 2 = 14 flags in a row are False.  Any 11 in a row
    # hold 8 that fill a 64-bit word of the flags read from offset 0 or
    # from offset 4, so without an all-zero word in either there is
    # nothing to extract.
    if differs.size < MIN_EXTRACT_RUN - 2 or (
        differs[: differs.size // 8 * 8].view(np.uint64).all()
        and differs[4 : (differs.size - 4) // 8 * 8 + 4].view(np.uint64).all()
    ):
        variable(0, n)
        return ops
    # run k of equal deltas is d[edges[k]:edges[k + 1]]
    change = np.flatnonzero(differs)
    edges = np.empty(change.size + 2, dtype=np.int64)
    edges[0], edges[-1] = 0, n - 1
    np.add(change, 1, out=edges[1:-1])
    long = np.flatnonzero(edges[1:] - edges[:-1] >= MIN_EXTRACT_RUN - 1)
    rstarts = edges[long]
    # the reference extracts only runs whose delta is exact in int64
    # (isSafeSubtract): the wrapped delta's sign matches the comparison
    safe = (v[rstarts + 1] >= v[rstarts]) == (d[rstarts] >= 0)
    pos = 0
    for s, e in zip(rstarts[safe].tolist(), edges[long[safe] + 1].tolist()):
        # deltas d[s:e], so values s..e
        start = max(pos, s)
        if e - start + 1 < MIN_EXTRACT_RUN:
            continue
        variable(pos, start)
        ops.append((start, e + 1, int(d[s])))
        pos = e + 1
    variable(pos, n)
    return ops


def _encode_fixed_delta_run(
    out: bytearray, run: np.ndarray, delta: int, signed: bool
) -> None:
    """Emit a fixed-delta run (len >= MIN_EXTRACT_RUN) as SHORT_REPEAT/DELTA,
    split at 512 without stranding a tail shorter than MIN_REPEAT."""
    n = run.size
    pos = 0
    while pos < n:
        chunk = min(n - pos, MAX_SCOPE)
        if n - pos - chunk in (1, 2):  # leave MIN_REPEAT for the tail
            chunk = n - pos - MIN_REPEAT
        sub = run[pos : pos + chunk]
        if delta == 0 and chunk <= MAX_SHORT_REPEAT_LENGTH:
            _write_short_repeat(out, int(sub[0]), chunk, signed)
        else:
            _write_fixed_delta(out, int(sub[0]), delta, chunk, signed)
        pos += chunk


def _write_short_repeat(out: bytearray, value: int, count: int, signed: bool) -> None:
    u = ((value << 1) ^ (value >> 63)) & ((1 << 64) - 1) if signed else value & (
        (1 << 64) - 1
    )
    nbytes = max(1, (u.bit_length() + 7) // 8)
    out.append((_SHORT_REPEAT << 6) | ((nbytes - 1) << 3) | (count - MIN_REPEAT))
    out.extend(u.to_bytes(nbytes, "big"))


def _write_fixed_delta(
    out: bytearray, base: int, delta: int, count: int, signed: bool
) -> None:
    # DELTA header with width code 0 == fixed delta
    out.append((_DELTA << 6) | ((count - 1) >> 8))
    out.append((count - 1) & 0xFF)
    if signed:
        write_vslong(out, base)
    else:
        write_vulong(out, base)
    write_vslong(out, delta)


# Size given to a sub-encoding that does not apply to a chunk.
_NOT_APPLICABLE = np.iinfo(np.int64).max
# Chunk plans.  The first three are rows of the candidate-size matrix, so
# argmin's first-minimum rule breaks ties as direct, then delta, then patched.
_PLAN_DIRECT, _PLAN_DELTA, _PLAN_PATCHED, _PLAN_FIXED_DELTA, _PLAN_CONST = range(5)
_PLAN_SUB = (_DIRECT, _DELTA, _PATCHED_BASE)  # header sub-encoding per plan
# 1 - p for the percentiles the planner reads: 100p (DIRECT width, patch
# width), 90p (DIRECT vs patched gap) and 95p (PATCHED_BASE data width),
# computed like the reference's ``1.0 - p``
_DISCARD_FRACTION = 1.0 - np.array([1.0, 0.9, 0.95])
_CODE = _WIDTH_TO_CODE.tolist()


def _chunk_percentile_widths(bits: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """``percentile_bits`` of every chunk at 100p, 90p and 95p, shape (3, nch).

    ``bits`` holds each value's significant bits; chunk ``k`` is the next
    ``cn[k]`` values.  One bincount over ``chunk*65 + bits`` gives every
    chunk's histogram and a cumsum the count at or below each bit length.
    ``percentile_bits`` discards the ``int(n*(1-p))`` widest values, so it
    lands on the closest fixed width of the most bits whose tail count
    exceeds that allowance (bucketing by width code first picks the same
    width: the code is monotonic in bits).
    """
    nch = cn.size
    key = bits + np.repeat(np.arange(0, 65 * nch, 65), cn)
    below = np.bincount(key, minlength=65 * nch).reshape(nch, 65).cumsum(axis=1)
    # tail count at b+1 bits = n - below[b]; it exceeds the allowance
    # while below[b] < n - allowance, for every b under the answer
    keep = cn - (_DISCARD_FRACTION[:, None] * cn).astype(np.int64)
    return CLOSEST_FIXED_BITS[(below < keep[:, :, None]).sum(axis=2)]


def _narrower_widths(fit: np.ndarray) -> np.ndarray:
    """``[w]``: the widest width of table ``fit`` below ``w`` (0 if none)."""
    widths = sorted(set(fit.tolist()))
    return np.array([max([x for x in widths if x < w], default=0) for w in range(65)])


_NARROWER = {
    False: _narrower_widths(CLOSEST_FIXED_BITS),
    True: _narrower_widths(CLOSEST_ALIGNED_BITS),
}


def _encode_variable(
    v: np.ndarray, d: np.ndarray, spans: list[tuple[int, int]], signed: bool,
    aligned: bool,
) -> list[bytes]:
    """Encode segments with no long fixed-delta runs, one stream per
    ``(lo, hi)`` span of ``v``: chunk each span at 512 and pick DIRECT /
    PATCHED_BASE / (monotonic) DELTA per chunk by computed size.  ``d``
    holds the deltas ``v[i+1] - v[i]``.

    One batched plan covers every chunk of every span, short tails
    included.  The full-length passes are few: per-chunk min and max of
    the values and of the deltas, and the base-reduced values when a chunk
    may take PATCHED_BASE; every width at 100p follows from those extremes
    and every candidate size is a vector op over chunks.  The 90p and 95p
    tests count the values above one width per chunk, and a histogram is
    built only for the chunks with outliers under their 100p width.
    Payloads are bit-packed with one ``bitpack.pack`` call per width
    (:func:`_pack_pieces`); the Python loop per chunk only writes header
    bytes and a slice of that output.
    """
    if not spans:
        return []
    if all(a[1] == b[0] for a, b in zip(spans, spans[1:])):
        seg, dseg = v[spans[0][0] : spans[-1][1]], d[spans[0][0] : spans[-1][1]]
    else:
        seg = np.concatenate([v[lo:hi] for lo, hi in spans])
        dseg = np.concatenate([d[lo:hi] for lo, hi in spans])
    fit = CLOSEST_ALIGNED_BITS if aligned else CLOSEST_FIXED_BITS
    # chunk k starts at starts[k] of the concatenation and holds cn[k]
    # values; every span is chunked from its own start.  Laid out in
    # Python: spans are few, and each small numpy call costs microseconds
    starts_l: list[int] = []
    cns: list[int] = []
    tails: list[int] = []  # per span, the index of its last chunk
    end = 0
    for lo, hi in spans:
        first = len(starts_l)
        starts_l += range(end, end + hi - lo, MAX_SCOPE)
        cns += [MAX_SCOPE] * (len(starts_l) - first)
        end += hi - lo
        cns[-1] = end - starts_l[-1]
        tails.append(len(starts_l) - 1)
    nch = len(starts_l)
    starts = np.array(starts_l)
    cn = np.array(cns)
    last = starts + (cn - 1)
    u = seg.view(U64)
    vmin = np.minimum.reduceat(seg, starts)
    vmax = np.maximum.reduceat(seg, starts)
    # chunk k owns the deltas dseg[start_k .. last_k - 1]; dseg[last_k]
    # leads out of it and is never read.  A DELTA chunk stores its first
    # delta d0 in the header and |delta| from its second delta to its
    # second-to-last in the payload; reduceat over (start + 1, last) pairs
    # gives the extremes of those (chunks under 3 values have none)
    d0 = dseg[starts]
    inner = cn > 2
    pairs = np.empty(2 * nch, dtype=np.int64)
    pairs[0::2] = np.minimum(starts + 1, last)
    pairs[1::2] = last
    pmin = np.minimum.reduceat(dseg, pairs)[0::2]
    pmax = np.maximum.reduceat(dseg, pairs)[0::2]
    # Every per-chunk bit length in one call.  Zigzag grows with |v| on
    # either side of 0, so the widest value is the zigzag of the minimum
    # or the maximum (for unsigned values, as uint64, the maximum unless a
    # value is at or above 2^63); then the varint payloads of the first
    # value and the first delta, the widest payload delta (from its
    # extremes), the base magnitude and the frame-of-reference span.
    firsts = seg[starts]
    if signed:
        zz = zigzag_encode(np.concatenate((vmax, vmin, firsts, d0)))
    else:
        umax = vmax if (vmin >= 0).all() else np.maximum.reduceat(u, starts).view(I64)
        zz = np.concatenate((umax, umax, firsts, zigzag_encode(d0).view(I64))).view(U64)
    bits = bits_required(
        np.concatenate(
            (
                zz,
                np.abs(np.concatenate((pmin, pmax, vmin))).view(U64),
                vmax.view(U64) - vmin.view(U64),
            )
        )
    ).reshape(8, nch)
    zmax_bits = np.maximum(bits[0], bits[1])
    dmax_bits = np.maximum(bits[4], bits[5])
    dmax_bits[~inner] = 0
    base_bits, span_bits = bits[6], bits[7]

    # the 100p widths of the values and of the base-reduced values
    bits100, br100 = CLOSEST_FIXED_BITS[zmax_bits], CLOSEST_FIXED_BITS[span_bits]
    direct_w = fit[bits100]
    sizes = np.empty((3, nch), dtype=np.int64)
    sizes[_PLAN_DIRECT] = (cn * direct_w + 7) // 8 + 2

    # DELTA needs a monotonic chunk.  Wire format stores |delta| after the
    # first delta and the decoder takes the common sign from the first
    # delta, so require a nonzero, sign-consistent first delta.  Min and
    # max of the owned deltas tell constant, monotonic and fixed-delta
    # chunks apart.
    dmin, dmax = np.minimum(d0, pmin), np.maximum(d0, pmax)
    fixed = (dmin == dmax) | ~inner
    flat = d0 == 0
    const = fixed & flat & inner  # only a span's tail chunk can be that short
    mono = ((dmin >= 0) | (dmax <= 0)) & ~flat & inner
    delta_w = np.maximum(fit[dmax_bits], 2)  # width 1: code 0 means fixed delta
    head = np.maximum((bits[2:4] + 6) // 7, 1)
    size_delta = head.sum(axis=0) + 2 + ~fixed * (((cn - 2) * delta_w + 7) // 8)
    size_delta[~mono] = _NOT_APPLICABLE
    sizes[_PLAN_DELTA] = size_delta

    # PATCHED_BASE doubles as plain frame-of-reference when a chunk has no
    # outliers (zero patch entries): base = min, data = value - min.  The
    # reference only tries PATCHED on a 90p/100p gap; we also try it
    # whenever the FoR span is narrower than the direct width, which
    # strictly improves on the reference's size for clustered data
    # (e.g. time-ordered warc_ts with jitter).  Mirrors preparePatchedBlob
    # (RunLengthIntegerWriterV2.java:571-668); the base must be below
    # 2^56 in magnitude.
    try_patched = (fit[span_bits] < direct_w) & (base_bits <= 56)
    sizes[_PLAN_PATCHED] = _NOT_APPLICABLE
    data_w = fit[br100]
    ppos = pc = np.empty(0, dtype=np.int64)
    # Percentile widths come from counts of values above a width: a
    # percentile width is at most T exactly when at most the allowance
    # int(n*(1-p)) of values need more than T bits (T a fixed width).
    allowance = (_DISCARD_FRACTION[:, None] * cn).astype(np.int64)

    def values_of(k: np.ndarray) -> slice | np.ndarray:
        """Index of the values of chunks ``k``, in chunk order."""
        if k.size == nch:
            return slice(0, seg.size)
        return _ranges(starts[k], cn[k])

    def above(k: np.ndarray, vals: np.ndarray, width: np.ndarray) -> np.ndarray:
        """Per chunk of ``k``, how many of its values ``vals`` need more
        than ``width`` bits."""
        over = vals >= np.repeat(_POW2[width], cn[k])
        off = starts if k.size == nch else np.cumsum(cn[k]) - cn[k]
        return np.add.reduceat(over, off, dtype=np.int64)

    # the reference's gap test: the 90p width more than one bit under the
    # 100p width w, i.e. at most T = the widest fixed width up to w - 2
    # (from 3 bits at 100p, the 90p width being at least 1)
    gap90 = np.flatnonzero(~try_patched & (base_bits <= 56) & (bits100 > 2))
    if gap90.size:
        z = seg[values_of(gap90)]
        z = zigzag_encode(z) if signed else z.view(U64)
        t = _NARROWER[False][bits100[gap90] - 1]
        try_patched[gap90] = above(gap90, z, t) <= allowance[1, gap90]
    if try_patched.any():
        br = u - np.repeat(vmin.view(U64), cn)  # base-reduced
        # Data goes at the 95p width of the base-reduced values, the values
        # above it patched.  That width is under the 100p width w exactly
        # when it is at most the next narrower width under w; a chunk with
        # more values above that is pure frame-of-reference at w, and only
        # the others need a histogram for the exact width.
        narrower = _NARROWER[aligned][data_w]
        patchy = np.flatnonzero(try_patched & (narrower > 0))
        if patchy.size:
            n_above = above(patchy, br[values_of(patchy)], narrower[patchy])
            patchy = patchy[n_above <= allowance[2, patchy]]
        if patchy.size:
            at = values_of(patchy)
            need = bits_required(br[at])
            data_w[patchy] = fit[_chunk_percentile_widths(need, cn[patchy])[2]]
            ppos = np.flatnonzero(need > np.repeat(data_w[patchy], cn[patchy]))
            ppos = ppos + at.start if isinstance(at, slice) else at[ppos]
            pc = np.searchsorted(starts, ppos, "right") - 1
        # a chunk whose 95p width is below w has a value above it (the
        # widest); every other chunk is pure, at w
        pure = np.bincount(pc, minlength=nch) == 0
        patch_w = CLOSEST_FIXED_BITS[np.maximum(br100 - data_w, 0)]
        # A chunk without outliers is pure frame-of-reference: every value
        # at the full width.  The spec (and the reference decoder) require
        # pl >= 1, so it carries one no-op patch entry (gap 0, patch 0 at
        # widths 1 and 1: one byte at entry width 2) that ORs nothing into
        # data[0]; this keeps the stream decodable by ANY conformant ORC
        # reader (verified via the orcfile cross-read).
        patch_w[pure] = 1
        # The reference also caps patches at 6% + 1 of the values and the
        # patch width at 56 bits; both always hold here: the 95p width
        # leaves at most int(0.05*n) values above it, and the only width
        # over 56 is 64, which fails this test.
        try_patched &= pure | (data_w + patch_w <= 64)
        # patch entries (gap, bits above data_w); the first gap counts from
        # the chunk start, a gap over 255 is split with (255, 0) fillers.
        # At most 25 patches and 2 fillers fit a 512-value chunk, so the
        # header's 5-bit entry count (<= 31) always suffices.
        n_entries = np.ones(nch, dtype=np.int64)
        gap_w = np.ones(nch, dtype=np.int64)
        keep = try_patched[pc]
        ppos, pc = ppos[keep], pc[keep]
        if ppos.size:
            lp = ppos - starts[pc]
            first = np.ones(pc.size, dtype=bool)
            first[1:] = pc[1:] != pc[:-1]
            gap = lp.copy()
            gap[1:] -= lp[:-1]
            gap[first] = lp[first]
            fillers = np.maximum(gap - 1, 0) // 255
            gap -= 255 * fillers
            groups = np.flatnonzero(first)
            n_entries[pc[groups]] = np.add.reduceat(fillers + 1, groups)
            max_gap = np.maximum.reduceat(np.where(fillers > 0, 255, gap), groups)
            gap_w[pc[groups]] = CLOSEST_FIXED_BITS[bits_required(max_gap)]
        # reference quirk: the combined entry width is a closest fixed
        # width (gap_w <= 8 and patch_w <= 56 keep it <= 64 wherever
        # patching is allowed; the clip only guards the other chunks)
        entry_w = CLOSEST_FIXED_BITS[np.minimum(gap_w + patch_w, 64)]
        size_patched = (base_bits + 8) // 8 + (cn * data_w + 7) // 8
        size_patched += 4 + (n_entries * entry_w + 7) // 8
        sizes[_PLAN_PATCHED, try_patched] = size_patched[try_patched]

    plan = sizes.argmin(axis=0)
    width = np.choose(plan, (direct_w, delta_w, data_w)).tolist()
    plan[(plan == _PLAN_DELTA) & fixed] = _PLAN_FIXED_DELTA
    plan[const] = _PLAN_CONST
    plans = plan.tolist()

    # --- payloads: one bit-pack per width --------------------------------
    # DIRECT packs the zigzag values, PATCHED_BASE the base-reduced ones
    # (pack keeps the low data_w bits), DELTA |delta| from the chunk's
    # second delta: the deltas themselves when rising, negated when falling
    zz = seg_d = neg_d = None
    if _PLAN_DIRECT in plans:
        zz = zigzag_encode(seg) if signed else u
    if _PLAN_DELTA in plans:
        seg_d = dseg.view(U64)
        if (d0[plan == _PLAN_DELTA] < 0).any():
            neg_d = np.negative(dseg).view(U64)
    d0l = d0.tolist()
    pieces = []  # (source, start, count, width)
    for k, (p, s, c) in enumerate(zip(plans, starts_l, cns)):
        if p == _PLAN_DIRECT:
            pieces.append((zz, s, c, width[k]))
        elif p == _PLAN_DELTA:
            pieces.append((seg_d if d0l[k] > 0 else neg_d, s + 1, c - 2, width[k]))
        elif p == _PLAN_PATCHED:
            pieces.append((br, s, c, width[k]))
    ndata = len(pieces)
    with_entries: list[int] = []
    if _PLAN_PATCHED in plans and (sel := plan[pc] == _PLAN_PATCHED).any():
        # entry = (gap << patch_w) | patch, each patch's own entry after its
        # fillers; a multiply stands in for the (slow) 64-bit shift
        e_pc, reps = pc[sel], fillers[sel] + 1
        own = np.cumsum(reps) - 1
        egap = np.full(int(own[-1]) + 1, 255, dtype=U64)
        egap[own] = gap[sel]
        epv = np.zeros(egap.size, dtype=U64)
        epv[own] = br[ppos[sel]] // _POW2[data_w[e_pc]]
        ent = egap * _POW2[np.repeat(patch_w[e_pc], reps)] + epv
        kp = pc[groups][plan[pc[groups]] == _PLAN_PATCHED]
        ne = n_entries[kp]
        with_entries = kp.tolist()
        pieces += zip(
            [ent] * kp.size,
            (np.cumsum(ne) - ne).tolist(),
            ne.tolist(),
            entry_w[kp].tolist(),
        )
    packed = _pack_pieces(pieces)
    data = iter(packed[:ndata])
    entries = dict(zip(with_entries, packed[ndata:]))

    # --- headers and payload slices ----------------------------------------
    out = bytearray()
    chunk_end = []
    if _PLAN_PATCHED in plans:
        base_bytes = ((base_bits + 8) // 8).tolist()
        patch_wl, gap_wl, n_entl = patch_w.tolist(), gap_w.tolist(), n_entries.tolist()
        vmins = vmin.tolist()
    for k, (p, c, v0, dv) in enumerate(zip(plans, cns, firsts.tolist(), d0l)):
        if p <= _PLAN_PATCHED:
            h = _PLAN_SUB[p] << 6 | _CODE[width[k]] << 1 | (c - 1) >> 8
            out += bytes((h, (c - 1) & 0xFF))
        if p == _PLAN_DIRECT:
            out += next(data)
        elif p == _PLAN_PATCHED:
            nbase, base = base_bytes[k], vmins[k]
            out.append((nbase - 1) << 5 | _CODE[patch_wl[k]])
            out.append((gap_wl[k] - 1) << 5 | n_entl[k])
            # base: magnitude with sign in the MSB of the big-endian field
            field = -base | (1 << (8 * nbase - 1)) if base < 0 else base
            out += field.to_bytes(nbase, "big")
            out += next(data)
            # a pure FoR chunk's single no-op entry packs to one zero byte
            out += entries.get(k, b"\x00")
        elif p == _PLAN_DELTA:
            if signed:
                write_vslong(out, v0)
            else:
                write_vulong(out, v0)
            write_vslong(out, dv)
            out += next(data)
        elif p == _PLAN_FIXED_DELTA:
            _write_fixed_delta(out, v0, dv, c, signed)
        elif c <= MAX_SHORT_REPEAT_LENGTH:
            _write_short_repeat(out, v0, c, signed)
        else:
            _write_fixed_delta(out, v0, 0, c, signed)
        chunk_end.append(len(out))
    mv = memoryview(out)
    bounds = [0] + [chunk_end[k] for k in tails]
    return [mv[a:b] for a, b in zip(bounds, bounds[1:])]


def _pack_pieces(pieces: list) -> list:
    """Bit-pack every ``(source, start, count, width)`` piece, with one
    ``bitpack.pack`` call per distinct width.

    Pieces of one width are laid out back to back, each zero-padded to a
    multiple of 8 values (8*w bits is whole bytes at any width w), so a
    piece starts on a byte boundary of its group's output and its first
    ``ceil(count*w/8)`` bytes are exactly what packing it alone gives: its
    bits, then zero bits.  A full 512-value chunk packs to 64*w bytes.
    """
    groups: dict[int, list[int]] = {}
    for i, piece in enumerate(pieces):
        groups.setdefault(piece[3], []).append(i)
    out: list = [None] * len(pieces)
    for w, idx in groups.items():
        src, s, _, _ = pieces[idx[0]]
        # back to back in one source, each but the last a whole number of
        # 8-value groups: then that stretch of the source is the layout
        offs, end, in_place = [0], s, True
        for i in idx:
            p_src, p_s, c, _ = pieces[i]
            in_place = in_place and p_src is src and p_s == end == s + offs[-1]
            end = p_s + c
            offs.append(offs[-1] + (c + 7) // 8 * 8)
        if in_place:
            buf = src[s:end]
        else:
            buf = np.zeros(offs[-1], dtype=U64)
            for i, o in zip(idx, offs):
                src, s, c, _ = pieces[i]
                buf[o : o + c] = src[s : s + c]
        blob = memoryview(bitpack.pack(buf, w))
        for i, o in zip(idx, offs):
            out[i] = blob[o * w // 8 : o * w // 8 + (pieces[i][2] * w + 7) // 8]
    return out


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


_WIDTH = tuple(decode_bit_width(code) for code in range(32))
_CLOSEST = tuple(CLOSEST_FIXED_BITS.tolist())
_ZERO_BYTES = bytes(64)
_MASK64 = (1 << 64) - 1
_NO_START = np.zeros(65, dtype=np.int64)  # one width: its values start at 0


def decode(data: bytes | memoryview, n: int, signed: bool) -> np.ndarray:
    """Decode an RLEv2 stream back to int64.

    ``n`` may be smaller than the encoded count (partial read): the final
    run is truncated, mirroring the reference reader's ability to stop
    mid-run (RunLengthIntegerReaderV2.nextVector honors the batch size).
    Data that ends before ``n`` values raises ``ValueError``, and so does a
    PATCHED_BASE patch that points past its run.

    The header pass (:func:`_scan`) comes first, and the output is only
    allocated once it has covered ``n`` values, so memory is bounded by
    the runs the data holds, not by ``n``.  Then every width's payloads are
    unpacked with one ``bitpack.unpack`` and each sub-encoding is assembled
    by vector ops over all of its runs.
    """
    pools, repeat, direct, patched, patches, delta = _scan(bytes(data), n, signed)
    if not n:
        return np.empty(0, dtype=I64)
    # each width's values, one unpack per width, laid end to end;
    # start[w] is where width w's values begin
    if len(pools) == 1:
        ((w, (pieces, size, _)),) = pools.items()
        pool, start = bitpack.unpack(b"".join(pieces), size, w), _NO_START
    else:
        start, values, total = np.zeros(65, dtype=np.int64), [], 0
        for w, (pieces, size, _) in pools.items():
            start[w] = total
            total += size
            values.append(bitpack.unpack(b"".join(pieces), size, w))
        pool = np.concatenate(values) if values else None
    parts = []  # (offsets, taken, values) per sub-encoding
    if direct:
        runs = _runs(direct, 4)
        z = _payloads(pool, start, runs)
        parts.append((runs[0], runs[1], zigzag_decode(z) if signed else z.view(I64)))
    if patched:
        parts.append(_patched(pool, start, _runs(patched, 5), patches))
    if repeat:
        parts.append(_repeated(_runs(repeat, 4)))
    if delta:
        parts.append(_delta(pool, start, _runs(delta, 6)))
    if len(parts) == 1:
        return parts[0][2]
    out = np.empty(n, dtype=I64)
    for at, take, vals in parts:
        if np.ndim(at):
            out[_ranges(at, take)] = vals
        else:
            out[at : at + take] = vals
    return out


def _scan(data: bytes, n: int, signed: bool) -> tuple:
    """The header pass: read run headers until ``n`` values are covered and
    queue every payload for its width's unpack, without decoding a value.
    This is the only Python loop over runs; it reads the headers that
    ``RunLengthIntegerReaderV2.java:87-316`` reads.

    Returns ``pools`` (width -> [queued payloads, values, bytes]) and, per
    kind, a flat list of one row per run that starts with the run's offset
    in the output and the number of values taken from it:

    - ``repeat``: SHORT_REPEAT and fixed DELTA, ``(.., first value, step)``
    - ``direct``: ``(.., width, slot)``
    - ``patched``: PATCHED_BASE, ``(.., width, slot, base)``
    - ``patches``: ``(index, value)`` of every patch inside the values
      taken, as an index into the PATCHED_BASE values and the patch bits
      already shifted above the run's data width
    - ``delta``: variable DELTA, ``(.., width, slot, first value, first
      delta)``

    A slot is the index of a run's first value in its width's unpack.  Each
    run is zero-padded to whole 8-value groups (8 values at ``w`` bits are
    ``w`` bytes), so every run starts on a byte boundary of its pool.  A
    pool that a DELTA run opens starts with one group of 8 zero values, so
    every DELTA slot is at least 8 (:func:`_delta` reads two places early).
    """
    pools: dict[int, list] = {}
    repeat, direct, patched, patches, delta = [], [], [], [], []

    def queue(start: int, count: int, width: int, lead: bool = False) -> tuple[int, int]:
        """(slot, end byte) of ``count`` values at ``width`` bits from
        ``data[start:]``."""
        end = start + (count * width + 7) // 8
        pool = pools.get(width)
        if pool is None:
            pool = pools[width] = [[_ZERO_BYTES[:width]], 8, width] if lead else [[], 0, 0]
        pieces, queued, nbytes = pool
        slot = (queued + 7) & ~7
        if slot > queued:  # pad the previous run to a whole group
            pieces.append(_ZERO_BYTES[: slot * width // 8 - nbytes])
        pieces.append(data[start:end])
        pool[1] = slot + count
        pool[2] = slot * width // 8 + end - start
        return slot, end

    # the loop is the cost floor of a stream of short runs: locals only
    add_repeat, add_direct, add_patched = repeat.extend, direct.extend, patched.extend
    from_bytes = int.from_bytes
    size = len(data)
    pos = filled = patched_taken = 0
    try:
        while filled < n:
            header = data[pos]
            mode = header >> 6
            if mode == _SHORT_REPEAT:
                nbytes = ((header >> 3) & 0x7) + 1
                take = (header & 0x7) + MIN_REPEAT
                if take > n - filled:
                    take = n - filled
                u = from_bytes(data[pos + 1 : pos + 1 + nbytes], "big")
                pos += 1 + nbytes
                add_repeat((filled, take, (u >> 1) ^ -(u & 1) if signed else to_signed64(u), 0))
            else:
                count = (((header & 1) << 8) | data[pos + 1]) + 1
                take = count if count <= n - filled else n - filled
                code = (header >> 1) & 0x1F
                width = _WIDTH[code]
                if mode == _DIRECT:
                    slot, pos = queue(pos + 2, count, width)
                    add_direct((filled, take, width, slot))
                elif mode == _PATCHED_BASE:
                    b3, b4 = data[pos + 2], data[pos + 3]
                    base_bytes = (b3 >> 5) + 1
                    field = from_bytes(data[pos + 4 : pos + 4 + base_bytes], "big")
                    sign = 1 << (8 * base_bytes - 1)
                    base = -(field ^ sign) if field & sign else field
                    slot, pos = queue(pos + 4 + base_bytes, count, width)
                    patch_width = _WIDTH[b3 & 0x1F]
                    gap_width = (b4 >> 5) + 1
                    entries = b4 & 0x1F
                    entry_width = _CLOSEST[min(gap_width + patch_width, 64)]
                    end = pos + (entries * entry_width + 7) // 8
                    if end > size:
                        break
                    # the (gap, patch) entries are read here too: at most 31
                    # a run, and all-zero ones (a pure frame-of-reference
                    # run carries one) patch nothing
                    if data[pos:end].count(0) < end - pos:
                        if width + patch_width > 64 or gap_width + patch_width > 64:
                            raise ValueError(
                                f"RLEv2 PATCHED_BASE run at value {filled}: data "
                                f"width {width}, patch width {patch_width} and gap "
                                f"width {gap_width} overflow a 64-bit value"
                            )
                        _read_patches(
                            from_bytes(data[pos:end], "big"), entries, entry_width,
                            patch_width, width, count, take, filled, patched_taken,
                            patches,
                        )
                    patched_taken += take
                    pos = end
                    add_patched((filled, take, width, slot, base))
                else:  # _DELTA; width code 0 is a fixed delta
                    if signed:
                        base, pos = read_vslong(data, pos + 2)
                    else:
                        u, pos = read_vulong(data, pos + 2)
                        base = to_signed64(u)
                    delta0, pos = read_vslong(data, pos)
                    if code and count > 2:
                        slot, pos = queue(pos, count - 2, width, lead=True)
                        delta += (filled, take, width, slot, base, delta0)
                    else:
                        add_repeat((filled, take, base, delta0))
            if pos > size:  # the run's bytes end past the data
                break
            filled += take
    except IndexError:  # a header read past the end
        pass
    if filled < n:
        raise _truncated(filled, n)
    return pools, repeat, direct, patched, patches, delta


def _read_patches(
    bits: int, entries: int, entry_width: int, patch_width: int, width: int,
    count: int, take: int, filled: int, offset: int, patches: list,
) -> None:
    """Append ``(offset + position, patch << width)`` for every nonzero
    patch among a PATCHED_BASE run's packed ``entries`` (``bits``, MSB
    first, padded to a byte) that lies in the run's first ``take`` values.
    Each entry's gap counts from the previous entry (the first from the
    run's start); a patch past the run raises ``ValueError``."""
    bits >>= -(entries * entry_width) % 8
    entry_mask, mask = (1 << entry_width) - 1, (1 << patch_width) - 1
    at = 0
    for shift in range((entries - 1) * entry_width, -1, -entry_width):
        entry = (bits >> shift) & entry_mask
        at += entry >> patch_width
        if entry & mask:
            if at >= count:
                raise ValueError(
                    f"RLEv2 PATCHED_BASE patch at value {at} past its run of "
                    f"{count} (the run at value {filled})"
                )
            if at >= take:  # past a partial read's last value
                continue
            if patches and patches[-1][0] == offset + at:  # a zero gap: OR both
                patches[-1] = (offset + at, patches[-1][1] | (entry & mask) << width)
            else:
                patches.append((offset + at, (entry & mask) << width))


def _truncated(filled: int, n: int) -> ValueError:
    return ValueError(f"RLEv2 stream truncated: data ends after {filled} of {n} values")


def _runs(rows: list, k: int):
    """A kind's columns from its flat rows of ``k`` fields: the list of
    fields itself for one run, else one int64 array per field."""
    if len(rows) == k:
        return rows
    return np.array(rows, dtype=np.int64).reshape(-1, k).T


def _ranges(starts: np.ndarray, lens: np.ndarray) -> slice | np.ndarray:
    """Index of the ranges ``[starts[k], starts[k] + lens[k])``, concatenated:
    a slice when they lie back to back, else an index array."""
    ends = np.cumsum(lens)
    shift = starts - (ends - lens)
    if (shift == shift[0]).all():
        return slice(shift[0], shift[0] + ends[-1])
    return np.arange(ends[-1]) + np.repeat(shift, lens)


def _payloads(pool: np.ndarray, start, runs, lead: int = 0) -> np.ndarray:
    """The values taken from each run's payload, in run order, starting
    ``lead`` places before its slot: a view of ``pool`` when they lie back
    to back in it (one run; or runs queued one after another in one width's
    pool, each but the last a whole number of 8-value groups), else a
    gathered copy."""
    take, width, slot = runs[1], runs[2], runs[3]
    if isinstance(runs, list):
        s = int(start[width]) + slot - lead
        return pool[s : s + take]
    return pool[_ranges(slot + start[width] - lead, take)]


def _repeated(runs) -> tuple:
    """SHORT_REPEAT and fixed-DELTA runs: ``first + j * step`` for the j-th
    value of a run."""
    at, take, first, step = runs
    if isinstance(runs, list):
        if step:
            return at, take, np.arange(take, dtype=I64) * step + first
        return at, take, np.full(take, first, dtype=I64)
    vals = np.repeat(first, take)
    if step.any():
        j = np.arange(vals.size) - np.repeat(np.cumsum(take) - take, take)
        j *= np.repeat(step, take)
        vals += j
    return at, take, vals


def _patched(pool: np.ndarray, start, runs, patches: list) -> tuple:
    """PATCHED_BASE runs: the data values with each run's patches ORed in
    above its data width, plus the run's base."""
    at, take, _, _, base = runs
    br = _payloads(pool, start, runs)
    if patches:
        br = br.copy()  # the patches must not land in the pool
        index, value = zip(*patches)  # each index once, see _read_patches
        br[np.array(index)] |= np.array(value, dtype=U64)
    if isinstance(runs, list):
        return at, take, (br + U64(base & _MASK64)).view(I64)
    return at, take, (br + np.repeat(base.view(U64), take)).view(I64)


def _delta(pool: np.ndarray, start, runs) -> tuple:
    """Variable-DELTA runs: one cumulative sum over every run's steps that
    restarts at each run's first value.

    The payload holds |delta| from a run's third value on, so the gather
    starts two places before each slot (every DELTA slot is at least 8,
    see :func:`_scan`); those two places get the first value and the first
    delta, whose sign is every delta's sign."""
    at, take, _, _, first, delta0 = runs
    steps = _payloads(pool, start, runs, lead=2).view(I64)
    if isinstance(runs, list):
        steps = -steps if delta0 < 0 else steps.copy()
        steps[0] = first
        if take > 1:
            steps[1] = delta0
        return at, take, np.cumsum(steps, out=steps)
    run_start = np.cumsum(take) - take
    if (delta0 < 0).any():
        steps = steps * np.repeat(np.where(delta0 < 0, -1, 1), take)
    else:
        steps = steps.copy()  # may be a view of the pool
    steps[run_start] = first
    two = take > 1
    steps[run_start[two] + 1] = delta0[two]
    np.cumsum(steps, out=steps)
    steps -= np.repeat(steps[run_start] - first, take)
    return at, take, steps
