"""Seeded input generator for the benchmark.

Produces Common-Crawl-style pages ``(url, warc_ts, html, text, lang)`` with
numpy and pyarrow only. It shares no code with the package's
``sources.webpages.synth_webpages``, so a change to the package cannot change
what the benchmark feeds it.

Properties the measured code depends on, each a field of :class:`Spec`:

- site skew: pages per site follow a Zipf law, so a few sites (and the cells
  their pages geocode to) are hot;
- re-crawl overlap: a share of crawl-2 urls were already in crawl 1, some
  with changed text, so the crawl-over-crawl merge resolves real conflicts;
- doc length: token counts are log-normal around ``mean_tokens``;
- a large Zipf vocabulary of unique pseudo-words;
- planted duplicates: a share of pages copy another page's text exactly, and
  a share copy it with ``edit_frac`` of the tokens replaced.

The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the generated bytes change, so cached inputs are rebuilt.
VERSION = 1

MAIN_SEED = 1
# The holdout seed: a claimed gain must also hold on it.
HOLDOUT_SEED = 7

LANGS = np.array(["en", "de", "fr", "es", "zh", "pt", "ja", "ru"])
LANG_P = np.array([0.45, 0.12, 0.1, 0.1, 0.08, 0.06, 0.05, 0.04])
MIN_TOKENS = 12


@dataclass(frozen=True)
class Spec:
    n_pages: int
    n_sites: int = 1500
    site_skew: float = 1.1
    recrawl_overlap: float = 0.3
    recrawl_changed: float = 0.5
    mean_tokens: int = 40
    vocab: int = 60_000
    vocab_skew: float = 1.05
    exact_dup_share: float = 0.04
    near_dup_share: float = 0.04
    edit_frac: float = 0.03


@dataclass
class Planted:
    """Ground truth of the duplicates planted in one table (page row ids)."""

    exact_groups: list[np.ndarray]  # each sorted, size >= 2, identical text
    near_pairs: np.ndarray  # (m, 2) int64: (source row, edited copy row)


def stream_rng(seed: int, stream: str) -> np.random.Generator:
    """An independent random stream per (seed, purpose)."""
    return np.random.default_rng([seed, *stream.encode()])


def _zipf_sampler(rng: np.random.Generator, n: int, skew: float):
    """Draws ids in [0, n) with P(rank r) ∝ 1/(r+1)^skew; ranks map through
    a random permutation, so popular ids are scattered over the id space.
    The inverse CDF is tabulated at 2^22 points: draws are one gather."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** skew)
    cdf /= cdf[-1]
    steps = 1 << 22
    table = rng.permutation(n)[
        np.minimum(np.searchsorted(cdf, (np.arange(steps) + 0.5) / steps), n - 1)
    ]

    def draw(size: int) -> np.ndarray:
        return table[rng.integers(0, steps, size=size)]

    return draw


def _vocabulary(rng: np.random.Generator, n: int) -> pa.StringArray:
    """``n`` unique lowercase pseudo-words of 3 to 6 letters."""
    codes = rng.choice(26**6 - 26**2, size=n, replace=False) + 26**2
    words = np.zeros((n, 6), dtype=np.uint8)
    ndig = np.ones(n, dtype=np.int64)
    while np.any(codes >= 26**ndig):
        ndig += codes >= 26**ndig
    rem = codes.copy()
    for d in range(6):
        live = d < ndig
        words[live, ndig[live] - 1 - d] = ord("a") + rem[live] % 26
        rem //= 26
    return pa.array(words.view("S6").ravel().astype(str)).cast(pa.string())


@dataclass
class _Seqs:
    """Token-id sequences of ``len(lens)`` documents, stored flat."""

    flat: np.ndarray
    lens: np.ndarray

    @property
    def starts(self) -> np.ndarray:
        return np.cumsum(self.lens) - self.lens

    def take(self, rows: np.ndarray) -> "_Seqs":
        lens = self.lens[rows]
        within = np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens)
        return _Seqs(self.flat[np.repeat(self.starts[rows], lens) + within], lens)


def _token_seqs(rng, draw_token, n: int, mean_tokens: int) -> _Seqs:
    sigma = 0.5
    mu = np.log(mean_tokens) - sigma**2 / 2
    lens = np.maximum(MIN_TOKENS, rng.lognormal(mu, sigma, n).astype(np.int64))
    return _Seqs(draw_token(int(lens.sum())), lens)


def _texts(vocab: pa.StringArray, seqs: _Seqs) -> pa.StringArray:
    """Space-joined words, assembled by Arrow kernels (no per-doc Python)."""
    offs = np.zeros(len(seqs.lens) + 1, dtype=np.int32)
    np.cumsum(seqs.lens, out=offs[1:])
    words = pa.ListArray.from_arrays(pa.array(offs), vocab.take(pa.array(seqs.flat)))
    return pc.binary_join(words, " ")


def _plant(rng, seqs: _Seqs, spec: Spec) -> tuple[_Seqs, Planted]:
    """Replace the last rows by exact and edited copies of earlier
    (original) rows: ``edit_frac`` of an edited copy's tokens (at least one)
    become different words."""
    n = len(seqs.lens)
    n_exact = int(round(n * spec.exact_dup_share))
    n_near = int(round(n * spec.near_dup_share))
    n_orig = n - n_exact - n_near
    src_exact = rng.integers(0, n_orig, size=n_exact)
    src_near = rng.integers(0, n_orig, size=n_near)
    rows = np.concatenate([np.arange(n_orig), src_exact, src_near])
    out = seqs.take(rows)
    starts = out.starts
    for row in range(n_orig + n_exact, n):
        length = out.lens[row]
        k = max(1, int(round(spec.edit_frac * length)))
        pos = starts[row] + rng.choice(length, size=k, replace=False)
        out.flat[pos] = (out.flat[pos] + 1 + rng.integers(0, spec.vocab - 1, size=k)) % spec.vocab
    groups: dict[int, list[int]] = {}
    for i, s in enumerate(src_exact):
        groups.setdefault(int(s), [int(s)]).append(n_orig + i)
    pairs = np.stack([src_near, np.arange(n_orig + n_exact, n)], axis=1).astype(np.int64)
    return out, Planted([np.array(sorted(g)) for g in groups.values()], pairs)


def _pages_table(rng, sites, page_ids, texts: pa.StringArray, ts_base: np.datetime64) -> pa.Table:
    n = len(page_ids)
    url = pc.binary_join_element_wise(
        "https://site", pa.array(sites.astype(str)), ".example/p/",
        pa.array(page_ids.astype(str)), ".html", "",
    )
    html = pc.binary_join_element_wise(
        "<html><head><title>site", pa.array(sites.astype(str)),
        "</title></head><body><p>", texts, "</p></body></html>", "",
    ).cast(pa.binary())
    secs = rng.integers(0, 30 * 86400, size=n)
    ts = (ts_base + secs.astype("timedelta64[s]")).astype("datetime64[us]")
    lang = LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]
    return pa.table({
        "url": url,
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": html,
        "text": texts,
        "lang": pa.array(lang),
    })


def crawls(seed: int, spec: Spec) -> tuple[pa.Table, pa.Table, Planted]:
    """Two crawls of ``spec.n_pages`` pages each, and the duplicates planted
    in crawl 1. Crawl 2 re-crawls ``recrawl_overlap`` of its pages from
    crawl 1 (same url); ``recrawl_changed`` of those come back with new text."""
    rng = stream_rng(seed, "crawls")
    vocab = _vocabulary(rng, spec.vocab)
    draw_token = _zipf_sampler(rng, spec.vocab, spec.vocab_skew)
    draw_site = _zipf_sampler(rng, spec.n_sites, spec.site_skew)
    n = spec.n_pages

    seqs1, planted = _plant(rng, _token_seqs(rng, draw_token, n, spec.mean_tokens), spec)
    sites1 = draw_site(n)
    ids1 = rng.permutation(n).astype(np.int64)
    t1 = _pages_table(rng, sites1, ids1, _texts(vocab, seqs1), np.datetime64("2024-01-01"))

    n_re = int(round(n * spec.recrawl_overlap))
    re_rows = rng.choice(n, size=n_re, replace=False)
    kept = re_rows[rng.random(n_re) >= spec.recrawl_changed]
    # crawl 2 = [unchanged re-crawls | changed re-crawls + new pages]
    fresh = _token_seqs(rng, draw_token, n - len(kept), spec.mean_tokens)
    old = seqs1.take(kept)
    seqs2 = _Seqs(np.concatenate([old.flat, fresh.flat]), np.concatenate([old.lens, fresh.lens]))
    changed = np.setdiff1d(re_rows, kept)
    re_order = np.concatenate([kept, changed])
    sites2 = np.concatenate([sites1[re_order], draw_site(n - n_re)])
    ids2 = np.concatenate([ids1[re_order], n + np.arange(n - n_re, dtype=np.int64)])
    t2 = _pages_table(rng, sites2, ids2, _texts(vocab, seqs2), np.datetime64("2024-02-01"))
    return t1, t2, planted


def docs(crawl: pa.Table) -> pa.Table:
    """A crawl as a ``(doc_id, url, text, lang)`` training-text table; row
    ``i`` has ``doc_id == i``, so :class:`Planted` rows are doc ids."""
    t = crawl.select(["url", "text", "lang"])
    return t.add_column(0, "doc_id", pa.array(np.arange(t.num_rows, dtype=np.int64)))


def key(name: str, seed: int, *specs: Spec) -> str:
    """Cache directory name of one workload's inputs."""
    digest = hashlib.sha1(repr((VERSION, specs)).encode()).hexdigest()[:10]
    return f"{name}-s{seed}-{digest}"


def cached(path: str, make) -> list[str]:
    """Write the tables ``make()`` returns as parquet files under ``path``
    once; later calls reuse them. Returns the file paths."""
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        os.makedirs(path, exist_ok=True)
        for i, t in enumerate(make()):
            pq.write_table(t, os.path.join(path, f"t{i}.parquet"), row_group_size=1 << 16)
        open(done, "w").close()
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
