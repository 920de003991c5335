"""Deterministic synthetic Common-Crawl-style web-page table (FIXTURES.md F1).

Schema matches BASELINE.json input_hint exactly:
    url:string, warc_ts:timestamp[us], html:binary, text:string, lang:string

All generation is seeded numpy — no external data, identical output for
identical (n_rows, seed), chunk-independent (row i's content depends only
on i and seed) so any scale can be generated streaming without drift.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

LANGS = np.array(
    "en zh es fr de ru ja pt it ar ko nl tr pl sv fi no da cs hu el he th vi id ms hi bn uk ro".split()
)
N_HOSTS = 1000
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01 UTC in microseconds

_WORDS: dict[int, np.ndarray] = {}


def _vocab(seed: int = 42) -> np.ndarray:
    """The seed's 5,000-word vocabulary (memoized per seed, so a table
    does not depend on which seeds the process generated before)."""
    if seed not in _WORDS:
        rng = np.random.default_rng(seed ^ 0x5CA1AB1E)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words = []
        for i in range(5000):
            ln = 2 + int(rng.integers(0, 9))
            words.append("".join(rng.choice(letters, ln)))
        _WORDS[seed] = np.array(words)
    return _WORDS[seed]


def _zipf_probs(n: int, alpha: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** alpha
    return p / p.sum()


def generate(n_rows: int, seed: int = 42, row_offset: int = 0) -> pa.Table:
    """Generate rows [row_offset, row_offset + n_rows) of the pages table."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, row_offset]))
    idx = np.arange(row_offset, row_offset + n_rows)

    # url: Zipf host + unique deterministic path
    hosts = rng.choice(N_HOSTS, n_rows, p=_zipf_probs(N_HOSTS))
    words = _vocab(seed)
    w1 = words[(idx * 2654435761) % 5000]
    w2 = words[(idx * 40503 + 17) % 5000]
    urls = [
        f"https://www.host{h:04d}.example.com/{a}/{b}/p{i}"
        for h, a, b, i in zip(hosts.tolist(), w1.tolist(), w2.tolist(), idx.tolist())
    ]

    # warc_ts: mostly-monotonic microsecond timestamps (70% sorted runs)
    steps = rng.integers(0, 2_000_000, n_rows)
    jitter = np.where(rng.random(n_rows) < 0.3, rng.integers(-500_000, 500_000, n_rows), 0)
    ts = TS_BASE_US + row_offset * 1_000_000 + np.cumsum(steps) + jitter

    # lang: Zipf over ~30 values (en ~ 40%)
    lang_p = _zipf_probs(len(LANGS), alpha=1.6)
    langs = LANGS[rng.choice(len(LANGS), n_rows, p=lang_p)]

    # text: Zipf word soup, length log-normal-ish
    text_words = np.clip(rng.lognormal(4.0, 1.0, n_rows), 5, 4000).astype(np.int64)
    word_p = _zipf_probs(5000, alpha=1.05)
    total_words = int(text_words.sum())
    flat = rng.choice(words, total_words, p=word_p)
    bounds = np.concatenate(([0], np.cumsum(text_words)))
    texts = [" ".join(flat[bounds[i] : bounds[i + 1]]) for i in range(n_rows)]

    # html: pseudo-HTML wrapping the text with repeated tag vocabulary,
    # ~2% null; html length ~ 8x text length (tag soup padding)
    null_mask = rng.random(n_rows) < 0.02
    htmls: list[bytes | None] = []
    tagset = b'<div class="content"><p style="margin:0">'
    for i, t in enumerate(texts):
        if null_mask[i]:
            htmls.append(None)
            continue
        body = t.encode()
        pad = int(rng.integers(1, 8))
        htmls.append(
            b"<html><head><title>page</title></head><body>"
            + (tagset + body + b"</p></div>") * pad
            + b"</body></html>"
        )

    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
        }
    )


def write_parquet(path: str, n_rows: int, seed: int = 42, chunk: int = 50_000) -> None:
    """Stream-generate to parquet (chunked, bounded memory)."""
    import pyarrow.parquet as pq

    writer = None
    for off in range(0, n_rows, chunk):
        t = generate(min(chunk, n_rows - off), seed=seed, row_offset=off)
        if writer is None:
            writer = pq.ParquetWriter(path, t.schema)
        writer.write_table(t)
    if writer is not None:
        writer.close()
