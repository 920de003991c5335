"""orc-tools analog: file inspection CLI over real ORC files and this
engine's stream dirs, with no Spark session required.

The reference ships orc-tools alongside orc-core (same 2.2.2 release)
with `meta` (org/apache/orc/tools/FileDump.java), `data` (PrintData.java
— rows as JSON lines), `scan` (ScanData.java — decode everything, count)
and `sizes` (orc-tools sizes command) subcommands; this module mirrors
that surface:

    python -m sparc.tools meta  <file.orc | streams-dir>
    python -m sparc.tools data  <file.orc | streams-dir> [-n N]
    python -m sparc.tools scan  <file.orc | streams-dir>
    python -m sparc.tools sizes <file.orc | streams-dir>
    python -m sparc.tools plan  <streams-dir> ['<predicate JSON>']

``plan`` has no orc-tools twin: it prints the driver read planner's
counters (``decode_job.plan_read``) for a sarg predicate written as JSON,
e.g. ``'["and", ["=", "url", "https://x"], [">", "id", 7]]'``.

ORC files are parsed with the engine's own tail/stream kernels
(sparc.engine.orcread); engine stream dirs (stripe files + footer
manifest) are decoded manifest-first with pyarrow + sparc.engine.stripe —
both paths run driver-less, so the CLI works on any machine that can see
the bytes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


# ---------------------------------------------------------------------------
# ORC tail inspection
# ---------------------------------------------------------------------------

_WRITER_VERSIONS = {
    # org/apache/orc/OrcFile.java WriterVersion enum
    0: "ORIGINAL", 1: "HIVE_8732", 2: "HIVE_4243", 3: "HIVE_12055",
    4: "HIVE_13083", 5: "ORC_101", 6: "ORC_135", 7: "ORC_517",
    8: "ORC_203", 9: "ORC_14",
}
_WRITERS = {0: "java", 1: "c++", 2: "presto", 3: "scritchley go", 4: "trino"}


def _type_str(types: list[dict], idx: int) -> str:
    """Render Type tree node ``idx`` as a Hive-style DDL string
    (TypeDescription.toString analog)."""
    from .engine.orcread import _TYPE_KINDS, _packed_varints

    t = types[idx]
    kind = _TYPE_KINDS[t.get(1, [0])[0]]
    subtypes = _packed_varints(t[2][0]) if 2 in t else []
    names = [bytes(b).decode() for b in t.get(3, [])]
    if kind == "struct":
        fields = ", ".join(
            f"{n}:{_type_str(types, s)}" for n, s in zip(names, subtypes)
        )
        return f"struct<{fields}>"
    if kind == "list":
        return f"array<{_type_str(types, subtypes[0])}>"
    if kind == "map":
        return (
            f"map<{_type_str(types, subtypes[0])},{_type_str(types, subtypes[1])}>"
        )
    if kind == "union":
        return "uniontype<" + ",".join(_type_str(types, s) for s in subtypes) + ">"
    if kind == "decimal":
        prec = t.get(5, [38])[0]
        scale = t.get(6, [10])[0]
        return f"decimal({prec},{scale})"
    if kind in ("char", "varchar"):
        return f"{kind}({t.get(4, [0])[0]})"
    if kind == "timestamp_instant":
        return "timestamp with local time zone"
    return kind


def _orc_tail(path: str) -> dict:
    """Parse an ORC file's PostScript + Footer (+ Metadata presence) into
    a plain dict — the FileDump `meta` payload.  Tail-only: no stripe
    bytes are read."""
    from .engine import orcread as R

    size = os.path.getsize(path)
    # Two-phase tail read (mirrors ReaderImpl.extractFileTail): read a small
    # fixed tail to parse the PostScript, then — if the footer+metadata
    # extend past what we buffered — re-read exactly
    # 1 + psLen + footerLength + metadataLength bytes.  Keeps the meta/sizes
    # subcommands correct for files whose tail exceeds the first read
    # (many stripes, wide schemas, large stripe statistics).
    with open(path, "rb") as f:
        f.seek(max(0, size - (1 << 16)))
        data = f.read()
        ps_len = data[-1]
        ps = R._parse_pb(data[-1 - ps_len : -1])
        footer_len = ps[1][0]
        meta_len = ps.get(5, [0])[0]
        tail_len = 1 + ps_len + footer_len + meta_len
        if tail_len > len(data):
            f.seek(max(0, size - tail_len))
            data = f.read()
    kind = R._KINDS[ps.get(2, [0])[0]]
    footer = R._parse_pb(
        R._inflate(data[-1 - ps_len - footer_len : -1 - ps_len], kind)
    )
    types = [R._parse_pb(t) for t in footer[4]]
    stripes = []
    for s in footer.get(3, []):
        sp = R._parse_pb(s)
        stripes.append(
            {
                "offset": sp[1][0],
                "index_length": sp.get(2, [0])[0],
                "data_length": sp[3][0],
                "footer_length": sp[4][0],
                "rows": sp[5][0],
            }
        )
    version = ".".join(str(v) for v in R._packed_varints(ps[4][0])) if 4 in ps else ""
    file_stats, stripe_stats, user_meta = R.read_orc_statistics(path)
    return {
        "path": path,
        "file_bytes": size,
        "format_version": version,
        # Footer.writer (field 9) = writer implementation;
        # PostScript.writerVersion (field 6) = bug-fix gate version
        "writer": _WRITERS.get(footer.get(9, [0])[0], "unknown"),
        "writer_version": _WRITER_VERSIONS.get(
            ps.get(6, [0])[0], str(ps.get(6, [0])[0])
        ),
        "compression": kind,
        "compression_block": ps.get(3, [0])[0],
        "rows": footer.get(6, [0])[0] if 6 in footer else sum(
            s["rows"] for s in stripes
        ),
        "schema": _type_str(types, 0),
        "n_columns": len(types),
        "stripe_count": len(stripes),
        "stripes": stripes,
        "row_index_stride": footer.get(8, [0])[0],
        "content_length": footer.get(2, [0])[0] if 2 in footer else None,
        "user_metadata": {k: v.decode("utf-8", "replace") for k, v in user_meta.items()},
        "file_statistics": file_stats,
        "stripe_statistics_count": len(stripe_stats),
    }


# ---------------------------------------------------------------------------
# engine stream-dir inspection (stripe files + footer manifest), Spark-less
# ---------------------------------------------------------------------------

def _dir_footers(streams_dir: str):
    """Yield the footer dict of every stripe in an engine streams dir,
    manifest-first (no Spark)."""
    import pyarrow.parquet as pq

    from .job import manifest

    for p in manifest.paths(streams_dir):
        t = pq.read_table(p, columns=["kind", "data"])
        for kind, blob in zip(t["kind"].to_pylist(), t["data"].to_pylist()):
            if kind == "FOOTER":
                yield json.loads(blob)


def _dir_meta(streams_dir: str) -> dict:
    stripes = []
    columns = None
    total_rows = 0
    for footer in _dir_footers(streams_dir):
        total_rows += footer["n_rows"]
        stripes.append(
            {
                "stripe_id": footer.get("stripe_id"),
                "rows": footer["n_rows"],
                "stripe_file": footer.get("stripe_file"),
                "fingerprint": footer.get("input_fingerprint", ""),
            }
        )
        if columns is None:
            columns = [
                {
                    "name": c["name"],
                    "type": c["arrow_type"],
                    "encoding": c["encoding"],
                    "codec": c["codec"],
                }
                for c in footer["columns"]
            ]
    return {
        "path": streams_dir,
        "rows": total_rows,
        "stripe_count": len(stripes),
        "columns": columns or [],
        "stripes": stripes,
    }


def _dir_stripe_streams(footer: dict, streams_dir: str):
    """Stream blobs for one stripe, from its stripe file (bloom filters
    skipped: a full decode never probes them)."""
    with open(os.path.join(streams_dir, footer["stripe_file"]), "rb") as f:
        mv = memoryview(f.read())
    return {
        (c, k): mv[off : off + ln]
        for c, k, off, ln in footer["stream_spans"]
        if k != "BLOOM_FILTER_UTF8"
    }


def _iter_tables(path: str):
    """Yield decoded pa.Table chunks for an ORC file or an engine dir."""
    if os.path.isdir(path):
        from .engine import stripe as stripe_mod

        for footer in _dir_footers(path):
            yield stripe_mod.decode_stripe(_dir_stripe_streams(footer, path), footer)
    else:
        from .engine.orcread import read_orc

        yield read_orc(path)


# ---------------------------------------------------------------------------
# subcommands
# ---------------------------------------------------------------------------

def meta(path: str) -> dict:
    return _dir_meta(path) if os.path.isdir(path) else _orc_tail(path)


def data(path: str, limit: int | None = None):
    """Rows as JSON-able dicts (PrintData.java analog)."""
    n = 0
    for table in _iter_tables(path):
        for row in table.to_pylist():
            yield row
            n += 1
            if limit is not None and n >= limit:
                return


def scan(path: str) -> dict:
    """Decode everything, count rows/bytes (ScanData.java analog)."""
    t0 = time.perf_counter()
    rows = 0
    nbytes = 0
    cols = 0
    for table in _iter_tables(path):
        rows += table.num_rows
        cols = table.num_columns
        nbytes += sum(c.nbytes for c in table.columns)
    wall = time.perf_counter() - t0
    return {
        "path": path,
        "rows": rows,
        "columns": cols,
        "decoded_bytes": nbytes,
        "seconds": round(wall, 3),
        "mb_per_sec": round(nbytes / max(wall, 1e-9) / 1e6, 1),
    }


def sizes(path: str) -> dict:
    """On-disk bytes by section (ORC file) or by column/stream kind
    (engine dir, from the footers' stream span maps)."""
    if not os.path.isdir(path):
        tail = _orc_tail(path)
        idx = sum(s["index_length"] for s in tail["stripes"])
        dat = sum(s["data_length"] for s in tail["stripes"])
        sf = sum(s["footer_length"] for s in tail["stripes"])
        total = tail["file_bytes"]
        tail_bytes = total - idx - dat - sf - 3  # 3 = ORC magic
        return {
            "path": path,
            "file_bytes": total,
            "index_bytes": idx,
            "data_bytes": dat,
            "stripe_footer_bytes": sf,
            "tail_bytes": tail_bytes,
            "percent_data": round(100 * dat / max(total, 1), 1),
        }
    by_col: dict[str, int] = {}
    by_kind: dict[str, int] = {}
    total = 0
    for footer in _dir_footers(path):
        for c, meta_c in ((c["name"], c) for c in footer["columns"]):
            for kind, info in meta_c.get("streams", {}).items():
                nbytes = info.get("compressed", 0)
                by_col[c] = by_col.get(c, 0) + nbytes
                by_kind[kind] = by_kind.get(kind, 0) + nbytes
                total += nbytes
    return {
        "path": path,
        "stream_bytes": total,
        "by_column": dict(sorted(by_col.items(), key=lambda kv: -kv[1])),
        "by_stream_kind": dict(sorted(by_kind.items(), key=lambda kv: -kv[1])),
    }


def _sarg_tree(node):
    """A JSON predicate (nested lists) as the sarg tuple tree."""
    if node and node[0] in ("and", "or", "not"):
        return (node[0], *[_sarg_tree(c) for c in node[1:]])
    return tuple(node)


def plan(streams_dir: str, predicate: str | None = None) -> dict:
    """The read planner's counters for ``streams_dir`` under a JSON sarg
    predicate (None: a full read)."""
    from .job import decode_job

    pred = _sarg_tree(json.loads(predicate)) if predicate else None
    return decode_job.plan_read(streams_dir, pred).counters


def _json_default(o):
    if isinstance(o, (bytes, memoryview)):
        b = bytes(o)
        try:
            return b.decode("utf-8")  # string stats bounds, readably
        except UnicodeDecodeError:
            return b.hex()
    return str(o)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m sparc.tools",
        description="Inspect ORC files / engine stream dirs (orc-tools analog)",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("meta", "scan", "sizes"):
        p = sub.add_parser(name)
        p.add_argument("path")
    pd = sub.add_parser("data")
    pd.add_argument("path")
    pd.add_argument("-n", "--limit", type=int, default=None)
    pp = sub.add_parser("plan")
    pp.add_argument("path")
    pp.add_argument("predicate", nargs="?")
    args = ap.parse_args(argv)
    if args.cmd == "data":
        for row in data(args.path, args.limit):
            print(json.dumps(row, default=_json_default))
        return 0
    if args.cmd == "plan":
        print(json.dumps(plan(args.path, args.predicate), indent=2))
        return 0
    out = {"meta": meta, "scan": scan, "sizes": sizes}[args.cmd](args.path)
    print(json.dumps(out, indent=2, default=_json_default))
    return 0


if __name__ == "__main__":
    sys.exit(main())
