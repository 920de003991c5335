"""In-memory spans around calls into sparc's public layer functions.

A :class:`Tracer` replaces module attributes (``sparc.kernels.rlev2.encode``
and so on) with timing wrappers.  This works from outside the program
because ``stripe.py``, ``orcfile.py`` and ``orcread.py`` call the kernels
and each other as module attributes, looked up at call time.  Spans keep
name, start, end and parent id; a layer's self time is its span duration
minus the time covered by its child spans.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# (module, attribute, span name).  Several attributes may share one span
# name: their self times add up into that layer.
LAYER_FUNCTIONS = [
    ("sparc.engine.stripe", "encode_stripe", "engine.stripe.encode_stripe"),
    ("sparc.engine.stripe", "decode_stripe", "engine.stripe.decode_stripe"),
    ("sparc.engine.stripe", "pick_row_groups", "engine.stripe.pick_row_groups"),
    ("sparc.engine.stats", "int_stats", "engine.stats.build"),
    ("sparc.engine.stats", "float_stats", "engine.stats.build"),
    ("sparc.engine.stats", "string_stats", "engine.stats.build"),
    ("sparc.engine.stats", "bool_stats", "engine.stats.build"),
    ("sparc.engine.stats", "decimal128_stats", "engine.stats.build"),
    ("sparc.engine.bloom", "build", "engine.bloom.build"),
    ("sparc.engine.bloom", "pack_multi", "engine.bloom.build"),
    ("sparc.engine.bloom", "unpack_multi", "engine.bloom.probe"),
    ("sparc.engine.bloom", "might_contain_rg_list", "engine.bloom.probe"),
    ("sparc.engine.bloom", "might_contain_any", "engine.bloom.probe"),
    ("sparc.engine.sarg", "keep", "engine.sarg.evaluate"),
    ("sparc.engine.orcfile", "write_orc", "engine.orcfile.write_orc"),
    ("sparc.engine.orcread", "read_orc", "engine.orcread.read_orc"),
    ("sparc.engine.orcread", "read_orc_filtered", "engine.orcread.read_orc_filtered"),
    ("sparc.kernels.block", "compress", "kernels.block.compress"),
    ("sparc.kernels.block", "decompress", "kernels.block.decompress"),
    ("sparc.kernels.dictionary", "encode_sorted", "kernels.dictionary.encode"),
    ("sparc.kernels.dictionary", "encode_unsorted", "kernels.dictionary.encode"),
    ("sparc.kernels.fsst", "train", "kernels.fsst.train"),
    ("sparc.kernels.fsst", "compress", "kernels.fsst.compress"),
    ("sparc.kernels.fsst", "decompress", "kernels.fsst.decompress"),
    ("sparc.kernels.rlev2", "encode", "kernels.rlev2.encode"),
    ("sparc.kernels.rlev2", "decode", "kernels.rlev2.decode"),
    ("sparc.kernels.bitpack", "pack", "kernels.bitpack.pack"),
    ("sparc.kernels.bitpack", "unpack", "kernels.bitpack.unpack"),
    ("sparc.kernels.byterle", "encode", "kernels.byterle.encode"),
    ("sparc.kernels.byterle", "decode", "kernels.byterle.decode"),
    ("sparc.kernels.bitfield", "encode", "kernels.bitfield.encode"),
    ("sparc.kernels.bitfield", "decode", "kernels.bitfield.decode"),
]


class Tracer:
    """Collects spans while installed; :meth:`uninstall` restores every
    wrapped attribute."""

    def __init__(self):
        self.spans: list[tuple[int, int, str, float, float]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.encodings: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self._stack: list[int] = []
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else -1
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, parent, name, t0, t1))

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] += n

    # -- wrappers -------------------------------------------------------------

    def _wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)
        tracer = self

        if name in ("kernels.block.compress", "kernels.block.decompress"):
            def wrapper(data, *a, **k):
                with tracer.span(name):
                    out = orig(data, *a, **k)
                tracer.count(name + ".bytes_in", len(data))
                tracer.count(name + ".bytes_out", len(out))
                return out
        elif name == "kernels.rlev2.encode":
            def wrapper(values, *a, **k):
                with tracer.span(name):
                    out = orig(values, *a, **k)
                tracer.count("kernels.rlev2.values", len(values))
                return out
        elif name == "kernels.rlev2.decode":
            def wrapper(data, n, *a, **k):
                with tracer.span(name):
                    out = orig(data, n, *a, **k)
                tracer.count("kernels.rlev2.values", n)
                return out
        else:
            def wrapper(*a, **k):
                with tracer.span(name):
                    return orig(*a, **k)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def _wrap_columns(self, stripe) -> None:
        """Per-column spans over encode_column/decode_column; the column
        name is taken from the call's arguments."""
        tracer = self
        enc_orig, dec_orig = stripe.encode_column, stripe.decode_column

        def encode_column(arr, name, *a, **k):
            with tracer.span(f"engine.stripe.encode_column.{name}"):
                streams, meta = enc_orig(arr, name, *a, **k)
            tracer.encodings[name][meta.get("encoding", "?")] += 1
            return streams, meta

        def decode_column(streams, meta, *a, **k):
            with tracer.span(f"engine.stripe.decode_column.{meta.get('name', '?')}"):
                return dec_orig(streams, meta, *a, **k)

        stripe.encode_column = encode_column
        stripe.decode_column = decode_column
        self._patched += [
            (stripe, "encode_column", enc_orig),
            (stripe, "decode_column", dec_orig),
        ]

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in LAYER_FUNCTIONS:
            self._wrap(importlib.import_module(mod_name), attr, name)
        self._wrap_columns(importlib.import_module("sparc.engine.stripe"))

    def uninstall(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    @contextlib.contextmanager
    def installed(self):
        self.install()
        try:
            yield self
        finally:
            self.uninstall()

    # -- aggregation ----------------------------------------------------------

    def self_times(self) -> dict[str, tuple[float, int]]:
        """{span name: (self seconds, calls)}.  Per-column spans
        (``engine.stripe.{en,de}code_column.<col>``) are reported
        inclusive instead: they slice a stripe by column, not by layer."""
        child_time: dict[int, float] = defaultdict(float)
        for _sid, parent, _name, t0, t1 in self.spans:
            if parent >= 0:
                child_time[parent] += t1 - t0
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for sid, _parent, name, t0, t1 in self.spans:
            inclusive = ".encode_column." in name or ".decode_column." in name
            out[name][0] += (t1 - t0) if inclusive else (t1 - t0 - child_time[sid])
            out[name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def covered_s(self) -> float:
        """Total duration of top-level spans."""
        return sum(t1 - t0 for _s, parent, _n, t0, t1 in self.spans if parent < 0)

    def dump(self, path: str) -> None:
        """Write every span and counter as JSON (run end only)."""
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": s, "parent": p, "name": n, "start": a, "end": b}
                        for s, p, n, a, b in self.spans
                    ],
                    "counters": dict(self.counters),
                    "encodings": {k: dict(v) for k, v in self.encodings.items()},
                },
                f,
            )
