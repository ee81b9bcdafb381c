"""Deterministic Common-Crawl-style `documents` synthesizer.

Input-table shape per BASELINE.json input_hint:
    documents(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

Everything derives from the doc id `i` via splitmix64, so generation is
reproducible across runs, batch splits, and parallelism levels (the
determinism requirement of FIXTURES.md §1). Distribution targets:

- hosts: Zipf(s=1.2) over a 10,007-host pool — a handful of hosts dominate
  (the skew analog of skar's `address`/`topic0` columns, SURVEY §1.3),
  exercising the salting path;
- warc_ts: near-sorted (2024-01-01 + i sec + jitter ∈ [-300, 300] s) —
  frame-of-reference/delta target, imperfect enough to test re-clustering;
- lang: 40 codes, Zipfian, clustered within host — dict/RLE target;
- text: seeded word-list prose with language-dependent vocabulary
  (multibyte UTF-8 for CJK-ish langs, occasional emoji), length
  log-normal (median ≈ 1.5 KiB), 1/256 docs empty — FSST target;
- html: templated boilerplate wrapping text; 1/64 pages ×20 size.

The generator itself runs inside Spark via ``spark.range(n).mapInArrow``
(Arrow batches out, no per-row Python crossing the executor boundary) —
the synthetic stand-in for the reference's RPC batch source
(reference: ingest/src/ingest.rs:66-135).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

SEED = 42
N_HOSTS = 10_007
ZIPF_S = 1.2
N_LANGS = 40
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch microseconds

U64 = np.uint64
_GOLDEN = U64(0x9E3779B97F4A7C15)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set)."""
    z = (x.astype(U64) + _GOLDEN)
    z = (z ^ (z >> U64(30))) * U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> U64(27))) * U64(0x94D049BB133111EB)
    return z ^ (z >> U64(31))


def _unit(h: np.ndarray) -> np.ndarray:
    """uint64 hash -> float64 in [0, 1)."""
    return (h >> U64(11)).astype(np.float64) / float(1 << 53)


# --- host pool + zipf CDF (module-level, deterministic) ----------------------

_TLDS = ["com", "org", "net", "io", "de", "jp", "fr", "co.uk"]


def _host_pool() -> list[str]:
    ids = np.arange(N_HOSTS, dtype=U64)
    h = splitmix64(ids ^ U64(0xA11CE))
    out = []
    for i in range(N_HOSTS):
        hv = int(h[i])
        tld = _TLDS[hv % len(_TLDS)]
        out.append(f"www.site-{hv % 99991:05d}.{tld}")
    return out


HOSTS = _host_pool()
_ranks = np.arange(1, N_HOSTS + 1, dtype=np.float64)
_zipf_w = _ranks ** (-ZIPF_S)
ZIPF_CDF = np.cumsum(_zipf_w) / _zipf_w.sum()

LANGS = [
    "en", "de", "fr", "es", "ja", "zh", "ru", "pt", "it", "nl",
    "pl", "tr", "ar", "ko", "sv", "cs", "el", "he", "da", "fi",
    "hu", "no", "th", "vi", "id", "ro", "uk", "bg", "hr", "sk",
    "lt", "lv", "et", "sl", "sr", "ms", "hi", "bn", "fa", "sw",
][:N_LANGS]
_lang_w = np.arange(1, N_LANGS + 1, dtype=np.float64) ** (-1.35)
_lang_w[0] = 0.55 / 0.45 * _lang_w[1:].sum()  # en ≈ 55% exactly
LANG_CDF = np.cumsum(_lang_w) / _lang_w.sum()

_CJK = {"ja", "zh", "ko"}
_SYLLABLES = ["ta", "re", "mo", "ki", "lan", "dor", "vex", "su", "pri", "qua",
              "zen", "bel", "cor", "fin", "gal", "hem", "ver", "nou", "plex", "sta"]
_CJK_CHARS = "語言文字網頁資料庫引擎壓縮編碼測試系統分散處理速度效率"
_EMOJI = ["🌍", "🎉", "🚀", "📄", "🔥"]


def _vocab_for_lang(lang_idx: int) -> np.ndarray:
    """Deterministic ~800-word vocabulary per language (bytes objects)."""
    rng_h = splitmix64(np.arange(800, dtype=U64) ^ (U64(lang_idx) << U64(32)))
    lang = LANGS[lang_idx]
    words = []
    if lang in _CJK:
        chars = _CJK_CHARS
        for i in range(800):
            hv = int(rng_h[i])
            n = 1 + hv % 4
            w = "".join(chars[(hv >> (8 * k)) % len(chars)] for k in range(n))
            words.append(w.encode())
    else:
        for i in range(800):
            hv = int(rng_h[i])
            n = 1 + hv % 4
            w = "".join(_SYLLABLES[(hv >> (5 * k)) % len(_SYLLABLES)]
                        for k in range(n))
            if hv % 97 == 0:
                w += _EMOJI[hv % len(_EMOJI)]
            words.append(w.encode())
    return np.array(words, dtype=object)


_VOCABS: dict[int, np.ndarray] = {}


def _vocab(lang_idx: int) -> np.ndarray:
    if lang_idx not in _VOCABS:
        _VOCABS[lang_idx] = _vocab_for_lang(lang_idx)
    return _VOCABS[lang_idx]


_B36 = np.array(list("0123456789abcdefghijklmnopqrstuvwxyz"))


def _base36(h: np.ndarray, k: int = 10) -> list[str]:
    digits = []
    v = h.copy()
    for _ in range(k):
        digits.append(_B36[(v % U64(36)).astype(np.int64)])
        v = v // U64(36)
    mat = np.stack(digits, axis=1)
    return ["".join(row) for row in mat]


def synth_batch(ids: np.ndarray, seed: int = SEED) -> pa.Table:
    """Generate a documents batch for the given doc ids (vectorized)."""
    ids = ids.astype(U64)
    s = U64(seed)
    n = len(ids)

    h_host = splitmix64(ids ^ (s * U64(0x1000193)))
    host_idx = np.searchsorted(ZIPF_CDF, _unit(h_host), side="right")
    host_idx = np.minimum(host_idx, N_HOSTS - 1)

    h_path = splitmix64(ids ^ U64(0xBEEF) ^ s)
    paths = _base36(h_path)
    hosts = [HOSTS[i] for i in host_idx]
    urls = [f"https://{h}/{p}" for h, p in zip(hosts, paths)]

    # near-sorted timestamps
    jitter = (splitmix64(ids ^ U64(0x7117)) % U64(601)).astype(np.int64) - 300
    ts_us = T0_US + ids.astype(np.int64) * 1_000_000 + jitter * 1_000_000

    # lang clustered within host: 95% host-determined, 5% per-doc
    h_lang_host = splitmix64(host_idx.astype(U64) ^ U64(0x1A2B) ^ s)
    h_lang_doc = splitmix64(ids ^ U64(0x3C4D) ^ s)
    override = (h_lang_doc % U64(20)) == 0
    lang_u = np.where(override, _unit(splitmix64(h_lang_doc)), _unit(h_lang_host))
    lang_idx = np.minimum(np.searchsorted(LANG_CDF, lang_u, side="right"),
                          N_LANGS - 1)
    langs = [LANGS[i] for i in lang_idx]

    # text: log-normal word counts, median ~250 words (~1.5 KiB)
    h_len = splitmix64(ids ^ U64(0x5E5E) ^ s)
    gauss = (_unit(h_len) + _unit(splitmix64(h_len)) +
             _unit(splitmix64(h_len ^ U64(1))) - 1.5) * 2.0
    n_words = np.exp(np.log(250) + 0.6 * gauss).astype(np.int64)
    n_words = np.clip(n_words, 5, 4000)
    n_words[(splitmix64(ids ^ U64(0xE0)) % U64(256)) == 0] = 0  # empty docs

    # vectorized word-index generation: one splitmix64 pass over all words,
    # keyed by (doc_id, word_pos) so it is batch-split independent
    total = int(n_words.sum())
    doc_of = np.repeat(np.arange(n), n_words)
    starts = np.zeros(n + 1, np.int64)
    np.cumsum(n_words, out=starts[1:])
    pos = (np.arange(total, dtype=np.int64) - starts[doc_of]).astype(U64)
    h_w = splitmix64(ids[doc_of] * U64(0x9E3779B1) ^ pos * U64(0xC2B2AE3D) ^ s)
    # zipf-ish word frequencies: square the unit to skew toward low ranks
    widx = (_unit(h_w) ** 2 * 800).astype(np.int64)
    words_all = np.empty(total, dtype=object)
    for li in np.unique(lang_idx):
        vocab = _vocab(int(li))
        sel = lang_idx[doc_of] == li
        words_all[sel] = vocab[widx[sel]]
    texts: list[bytes] = [
        b" ".join(words_all[starts[k]:starts[k + 1]]) if n_words[k] else b""
        for k in range(n)]

    # html: boilerplate wrapper; 1/64 pages get a ×20 boilerplate block
    big = (splitmix64(ids ^ U64(0xB16)) % U64(64)) == 0
    htmls: list[bytes] = []
    for k in range(n):
        head = (b'<!DOCTYPE html><html lang="' + langs[k].encode() +
                b'"><head><meta charset="utf-8"><title>' + paths[k].encode() +
                b'</title><meta name="ts" content="' + str(int(ts_us[k])).encode() +
                b'"></head><body>')
        block = (b'<div class="nav"><a href="/">home</a><a href="/about">about</a>'
                 b'<span data-k="' + paths[k].encode() + b'"></span></div>')
        if big[k]:
            block = block * 20
        htmls.append(head + block + b"<p>" + texts[k] + b"</p></body></html>")

    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts_us, pa.timestamp("us")),
        "html": pa.array(htmls, pa.binary()),
        # bytes -> binary -> utf8 cast (validates, avoids per-doc .decode)
        "text": pa.array(texts, pa.binary()).cast(pa.string()),
        "lang": pa.array(langs, pa.string()),
    })


DOCS_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def synth_documents(spark, n_docs: int, partitions: int = 32,
                    seed: int = SEED):
    """Distributed deterministic generator: spark.range → mapInArrow."""
    def gen(batches):
        for batch in batches:
            ids = batch.column("id").to_numpy()
            t = synth_batch(ids, seed)
            for rb in t.to_batches(max_chunksize=8192):
                yield rb

    return (spark.range(0, n_docs, 1, partitions)
            .mapInArrow(gen, schema=DOCS_DDL))
