"""Benchmark inputs, generated from the seed, and their reference outputs.

Nothing here starts Spark: the filter corpus comes from
``sources.synth.generate_pages`` and is written as equal parquet files
(one scan task per file, like Common Crawl segments); the reference
verdicts come from the fused UDF's own Python function, called in-process.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

#: reasons decided before any scrub work (rules.evaluate_document)
EARLY_REASONS = frozenset(("null_text", "min_size", "index_toc"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _write_files(columns: dict, out_dir: str, n_files: int) -> None:
    """Write ``columns`` as ``n_files`` parquet files of equal row count."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(columns)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                           0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit value."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i <= n - 32:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def bucket_of(url: str, n_buckets: int) -> int:
    """``pmod(xxhash64(url), n_buckets)``, the bucket ``plans.checkpoints``
    writes ``url`` to (Spark's xxhash64 is XXH64 with seed 42, signed)."""
    h = _xxh64(url.encode(), 42)
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


def filter_pages(n_docs: int, seed: int, n_buckets: int, lost: tuple) -> list:
    """``n_docs`` synth pages of which exactly ``n_docs * len(lost) //
    n_buckets`` fall in the ``lost`` buckets, so a resume recomputes the
    same number of documents for every seed."""
    from wikisource_latin_text_cleaner_spark.sources import synth

    want_lost = n_docs * len(lost) // n_buckets
    picked, n_lost = [], 0
    for row in synth.generate_pages(n_docs * 3 // 2, seed):
        in_lost = bucket_of(row.url, n_buckets) in lost
        if in_lost and n_lost < want_lost:
            n_lost += 1
        elif in_lost or len(picked) - n_lost >= n_docs - want_lost:
            continue
        picked.append(row)
    if len(picked) != n_docs or n_lost != want_lost:
        raise RuntimeError(f"picked {len(picked)} pages, {n_lost} lost; "
                           f"wanted {n_docs}, {want_lost}")
    return picked


def write_pages(rows, out_dir: str, n_files: int) -> None:
    _write_files({
        "url": [r.url for r in rows],
        "warc_ts": pa.array([r.warc_ts for r in rows], type=pa.timestamp("us")),
        "html": pa.array([r.html for r in rows], type=pa.binary()),
        "text": [r.text for r in rows],
        "lang": [r.lang for r in rows],
    }, out_dir, n_files)


def write_docs(ids: list[int], texts: list[str], out_dir: str, n_files: int) -> None:
    _write_files({"doc_id": pa.array(ids, type=pa.int64()), "text": texts},
                 out_dir, n_files)


# -- reference verdicts -------------------------------------------------------

def web_fused_func():
    """The fused UDF's Python function, configured as ``driver.py --mode web``
    configures it with its default flags."""
    import driver
    from wikisource_latin_text_cleaner_spark.functions import rules, udfs

    a = driver.build_parser().parse_args(
        ["--input", "-", "--output", "-", "--mode", "web"])
    return udfs.make_fused_udf(
        min_size_bytes=a.min_size,
        extensions=rules.ExtensionConfig(max_toxicity=a.max_toxicity),
        classify_on=not a.no_classify,
        langid_on=True,
        allowed_langs=tuple(a.allowed_langs.split(",")),
        ppx_threshold=a.perplexity_threshold,
        pii_on=True,
    ).func


def reference_verdicts(texts: list[str]) -> list[tuple]:
    """``(keep, drop_reasons, clean_text)`` per text, computed in-process."""
    import pandas as pd

    out = web_fused_func()(pd.Series(texts, dtype=object))
    return [(bool(k), list(r), c) for k, r, c in
            zip(out["keep"], out["drop_reasons"], out["clean_text"])]


def row_digest(url: str, keep: bool, reasons, clean_text) -> bytes:
    return hashlib.sha256(
        repr((url, bool(keep), list(reasons), clean_text)).encode()
    ).digest()


def table_digest(rows: dict) -> str:
    """Order-independent digest of ``url -> (keep, reasons, clean_text)``."""
    h = hashlib.sha256()
    for url in sorted(rows):
        h.update(row_digest(url, *rows[url]))
    return h.hexdigest()


def corpus_properties(texts: list[str], verdicts: list[tuple]) -> dict:
    n = len(texts)
    return {
        "docs": n,
        "mean_chars": round(sum(len(t or "") for t in texts) / n, 1),
        "early_drop_share": round(
            sum(bool(EARLY_REASONS & set(v[1])) for v in verdicts) / n, 4),
        "keep_share": round(sum(v[0] for v in verdicts) / n, 4),
    }


# -- near-duplicate corpus ----------------------------------------------------

def dedup_threshold() -> float:
    from wikisource_latin_text_cleaner_spark.operators import dedup

    return inspect.signature(dedup.minhash_dedup).parameters["threshold"].default


def signature_agreement(a: str, b: str) -> float:
    """Share of equal MinHash positions, from the layer's own signature UDF."""
    import pandas as pd
    from wikisource_latin_text_cleaner_spark.operators import dedup

    sa, sb = dedup.minhash_udf.func(pd.Series([a, b]))
    return sum(x == y for x, y in zip(sa, sb)) / len(sa)


def _edit(text: str, rng: random.Random, words) -> str:
    toks = text.split(" ")
    i = rng.randrange(len(toks))
    toks[i] = rng.choice(words)
    return " ".join(toks)


def near_dup_corpus(n_base: int, seed: int, planted_share: float = 0.1):
    """``(ids, texts, planted_ids)``: ``n_base`` synth pages plus lightly
    edited copies of pages already in the corpus. Each copy gets a larger id
    than its source and an edit small enough that its in-process signature
    agreement with the source is at least the dedup threshold, so
    ``minhash_dedup`` must drop every copy. Rows are shuffled by the seed so
    copies spread over every file."""
    from wikisource_latin_text_cleaner_spark.sources import synth

    texts = [r.text for r in synth.generate_pages(n_base, seed)]
    rng = random.Random(seed)
    threshold = dedup_threshold()
    sources = [i for i, t in enumerate(texts) if len(t) >= 400]
    planted = []
    for src in rng.sample(sources, int(n_base * planted_share)):
        copy = texts[src]
        for _ in range(5):
            cand = _edit(texts[src], rng, synth.LATIN_WORDS)
            if signature_agreement(cand, texts[src]) >= threshold:
                copy = cand
                break
        planted.append(copy)
    all_texts = texts + planted
    ids = list(range(len(all_texts)))
    rng.shuffle(ids)
    return ids, [all_texts[i] for i in ids], set(range(n_base, len(all_texts)))
