"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard.

The reference's only dedup is last-write-wins by filename during dataset
merges (Text Cleaner/step7_create_merged_datasets.py:62-66) -- made explicit
here as `exact_dedup` -- plus the near-dup family a web-scale training-data
pipeline needs (task brief; no reference precedent).

Scale design notes:
  - signatures are computed in Arrow-batched pandas UDFs (numpy; one pass
    per batch), so the only shuffles are the band-bucket join (keys are
    ~uniform by construction -> no skew) and the final semi-join;
  - candidate generation is MinHash-LSH band-bucket equality, never an
    O(n^2) cross join. Every symmetric candidate search keys its rows and
    calls the one self-join, ``_band_pairs``; only the incremental MinHash
    probe (new batch against a ledger) writes its own;
  - verification stays JVM-side -- no Python in the pair loop -- and each
    pair rule is written once: signature agreement (``_agreement``) and
    exact n-gram set Jaccard (``ngram_jaccard_pairs``);
  - one survivor rule, "canonical doc" = smallest id: among identical
    texts (``_smallest_id``) and among verified near-dups, where a row is
    dropped iff some verified duplicate has a smaller id (single-level
    transitivity, the standard near-dup-dedup approximation -- no
    iterative connected components job needed).

Eager-evaluation / cache-lifecycle contract (applies to EVERY function
here that caches -- each pins its caches through ``_persist_forced``, none
through a lazy ``persist``): each one runs Spark jobs at CALL time to fill
its internal caches (see ``_persist_forced`` for why a lazy persist loses the
multi-consumer race), so building a plan you never execute, adding filters
before your action, or calling ``.explain()`` is not free. There is no
opt-out. The caches are intentionally NOT auto-unpersisted -- the returned
lazy frames still read them -- and disk blocks of MEMORY_AND_DISK caches
are not LRU-evicted, so a session that loops these operators (incremental
ingest, per-batch dedup) must release the previous batch's caches between
batches. That release is MECHANIZED, not contractual: the incremental
functions (and ``minhash_dedup``, which delegates to one) attach the caches
they pinned to their returned frame(s) as a ``CacheHandle``
(``df.dedup_caches``), the ``collect_caches()`` context manager scoops the
caches of every call made inside it on the current thread, and the
incremental functions accept ``unpersist_prior=`` taking the previous
batch's handle -- they first make this batch's returned ledger
self-contained (its own forced cache), then release the prior batch's
pins. ``tests/test_incremental_cache_lifecycle.py`` pins that executor
storage stays FLAT across a chained 3-batch ingest loop.
"""

from __future__ import annotations

import contextlib
import contextvars
import warnings
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


def _persist_forced(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + count(): cache AND fill it, eagerly.

    Every near-dup operator here computes an expensive frame (signature /
    shingle / fingerprint UDF output) that fans out into 2+ subtrees of the
    SAME downstream action -- self-join sides, a stats agg plus the join, a
    union's two branches.  A lazy ``persist`` does NOT make those subtrees
    share the work: Spark materializes broadcast exchanges as concurrent
    jobs and submits independent shuffle-map stages (e.g. a sort-merge
    join's two children) in parallel, so with AQE off every concurrent
    consumer finds an unfilled cache and recomputes the frame from scratch.
    Event-log measurement on a 40k-doc ``minhash_dedup``: the signature UDF
    stage ran 4-5x per action (841 s of task time where one pass costs
    165 s) and local[32] ran SLOWER than local[8].  (AQE hides the self-join
    case by reusing one exchange for identical children, but heterogeneous
    fan-outs -- groupBy + join + anti-join -- race even under AQE.)

    The count() fills the cache in exactly one pass; every consumer then
    reads it.  This is the in-session analog of materializing the signature
    table to storage before the LSH join -- which is what a 100 TB run does
    anyway (see module docstring).  Cost: one scheduler round-trip and the
    loss of construction-time laziness, both negligible against a UDF pass.

    Lifecycle: this module's public functions do not unpersist these
    caches -- the frames they return still read them lazily. See the
    module docstring's eager-evaluation / cache-lifecycle contract for the
    per-batch unpersist guidance.
    """
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    for frames in _ACTIVE_COLLECTORS.get():
        frames.append(df)
    return df


# -- cache-lifecycle handles (mechanized unpersist for ingest loops) ---------

#: collectors in scope on the current thread; _persist_forced registers
#: every cache it fills into each. A context variable, so a dedup call on
#: one driver thread never lands in another thread's open scope (a new
#: thread starts with the empty default).
_ACTIVE_COLLECTORS: contextvars.ContextVar[tuple[list[DataFrame], ...]] = (
    contextvars.ContextVar("dedup_active_collectors", default=())
)


class CacheHandle:
    """Explicit cleanup handle for the caches a dedup call (or a
    ``collect_caches()`` scope) pinned via ``_persist_forced``.

    ``release()`` unpersists every pinned frame exactly once and empties
    the handle (idempotent). MEMORY_AND_DISK blocks are not LRU-evicted,
    so an ingest loop that never releases grows executor storage without
    bound -- see the module docstring's cache-lifecycle contract."""

    def __init__(self, frames: list[DataFrame] | None = None):
        self._frames: list[DataFrame] = frames if frames is not None else []

    def __len__(self) -> int:
        return len(self._frames)

    @property
    def frames(self) -> tuple[DataFrame, ...]:
        return tuple(self._frames)

    def release(self, blocking: bool = False) -> int:
        """Unpersist every pinned cache; returns how many were released."""
        n = 0
        while self._frames:
            self._frames.pop().unpersist(blocking=blocking)
            n += 1
        return n


@contextlib.contextmanager
def collect_caches():
    """Scope that collects every cache the dedup operators pin inside the
    block into one live ``CacheHandle`` (yielded immediately; it fills as
    calls run). The scope does NOT auto-release on exit -- the returned
    lazy frames still read the caches -- the caller releases the handle
    once the batch's outputs are consumed::

        with collect_caches() as handle:
            kept, ledger = incremental_minhash_dedup(batch, seen_sigs=prev)
        kept.write.parquet(...)          # consume
        handle.release()                 # then drop this batch's pins
    """
    frames: list[DataFrame] = []
    token = _ACTIVE_COLLECTORS.set(_ACTIVE_COLLECTORS.get() + (frames,))
    try:
        yield CacheHandle(frames)
    finally:
        _ACTIVE_COLLECTORS.reset(token)


def release_caches(*items, blocking: bool = False) -> int:
    """Normalize-and-release: each item may be a ``CacheHandle``, a
    DataFrame carrying ``.dedup_caches``, or an iterable of either.
    Returns the total number of caches released (shared handles release
    once -- ``CacheHandle.release`` is idempotent). A DataFrame without
    ``.dedup_caches`` -- typically one derived from a returned frame, such
    as ``kept.select("doc_id")`` -- frees nothing and emits a
    ``UserWarning``."""
    n = 0
    for item in items:
        if item is None:
            continue
        if isinstance(item, CacheHandle):
            n += item.release(blocking=blocking)
        elif isinstance(item, DataFrame):
            h = getattr(item, "dedup_caches", None)
            if h is None:
                warnings.warn(
                    "release_caches: DataFrame has no .dedup_caches handle "
                    "(frames derived from a dedup result do not inherit it); "
                    "nothing released", UserWarning, stacklevel=2)
            else:
                n += h.release(blocking=blocking)
        elif isinstance(item, (str, bytes)):
            # a 1-char str iterates to itself -- recursing would never end
            raise TypeError(f"cannot release caches from {type(item)!r}")
        elif isinstance(item, Iterable):
            n += release_caches(*item, blocking=blocking)
        else:
            raise TypeError(f"cannot release caches from {type(item)!r}")
    return n


def _attach_handle(handle: CacheHandle, *frames: DataFrame) -> None:
    """Attach one shared handle to each returned frame as
    ``df.dedup_caches`` (plain Python attribute on the DataFrame object;
    derived frames built from it do not inherit the attribute -- hold the
    returned object to hold the handle)."""
    for f in frames:
        f.dedup_caches = handle

# -- deterministic hashing helpers (no PYTHONHASHSEED dependence) -----------

_MERSENNE = np.int64((1 << 61) - 1)
_RNG = np.random.RandomState(42)
_MINHASH_A = _RNG.randint(1, 1 << 31, size=64).astype(np.int64)
_MINHASH_B = _RNG.randint(0, 1 << 31, size=64).astype(np.int64)


def _char_shingle_hashes(text: str, width: int = 5) -> np.ndarray:
    """Distinct rolling polynomial hashes of char `width`-grams."""
    codes = np.frombuffer(text.lower().encode("utf-32-le"), dtype=np.uint32)
    codes = codes.astype(np.int64)
    if codes.size < width:
        return np.array([codes.sum() if codes.size else 0], dtype=np.int64)
    acc = np.zeros(codes.size - width + 1, dtype=np.int64)
    for i in range(width):
        acc = acc * np.int64(1_000_003) + codes[i: codes.size - width + 1 + i]
    return np.unique(acc & np.int64(0x7FFFFFFFFFFFFFFF))


#: Per-block element budget for the MinHash kernel. Caps the transient
#: (k x block) permutation matrix at ~32 MB so one outlier web document
#: (a 1 M-char page would otherwise allocate ~0.5 GB in a single UDF call)
#: cannot OOM an executor's Python worker. Same fix shape as the langid
#: long-doc block processing (functions/langid.py:75-82).
_KERNEL_BLOCK = 65536


def _minhash_from_hashes(sh: np.ndarray, k: int = 64) -> np.ndarray:
    # affine permutations over a Mersenne-prime field, block-wise over the
    # shingle axis with a running min -- identical values to the one-shot
    # (k x n_shingles) product, bounded memory
    mins = np.full(k, np.iinfo(np.int64).max, dtype=np.int64)
    a, b = _MINHASH_A[:k, None], _MINHASH_B[:k, None]
    for start in range(0, sh.size, _KERNEL_BLOCK):
        chunk = sh[None, start: start + _KERNEL_BLOCK]
        np.minimum(mins, ((chunk * a + b) % _MERSENNE).min(axis=1), out=mins)
    return mins


def _minhash_signature(text: str, k: int = 64) -> np.ndarray:
    return _minhash_from_hashes(_char_shingle_hashes(text), k)


def _word_ngram_hashes(text: str, n: int = 3) -> np.ndarray:
    """Distinct polynomial hashes of word n-grams (tokens from the same
    lower().split() as ngram_jaccard verification). Built on the vectorized
    FNV token hashes, so cost is ~one pass over the tokens."""
    th = _token_hashes(text).view(np.int64)
    if th.size < n:
        return np.array([int(th.sum()) & 0x7FFFFFFFFFFFFFFF], dtype=np.int64)
    acc = np.zeros(th.size - n + 1, dtype=np.int64)
    for i in range(n):
        acc = acc * np.int64(1_000_003) + th[i: th.size - n + 1 + i]
    return np.unique(acc & np.int64(0x7FFFFFFFFFFFFFFF))


def _word_minhash_signature(text: str, n: int = 3, k: int = 64) -> np.ndarray:
    return _minhash_from_hashes(_word_ngram_hashes(text, n), k)


_FNV_OFFSET = np.uint64(14695981039346656037)
_FNV_PRIME = np.uint64(1099511628211)
#: byte position past which a token falls off the vectorized FNV fast path
_VECTOR_BYTE_CAP = 256


def _token_hashes(text: str) -> np.ndarray:
    """Full-width 64-bit FNV-1a per token (uint64).

    Vectorized across tokens: tokens are length-sorted so the set still
    active at byte position j is a contiguous prefix, and each step is three
    slice ops on that prefix -- the Python-level loop runs max(token_len)
    times (~10 for web text) instead of len(text) times. uint64 wraparound
    gives the FNV mask for free. Memory is O(n_bytes + n_tokens) -- no 2D
    padding matrix. Tokens longer than _VECTOR_BYTE_CAP (degenerate inputs;
    at most a handful per document) finish with a per-token byte loop so one
    pathological token cannot stretch the vector loop a million steps."""
    toks = text.lower().split()
    if not toks:
        return np.zeros(1, dtype=np.uint64)
    enc = [t.encode("utf-8") for t in toks]
    flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
    lens = np.fromiter((len(t) for t in enc), dtype=np.int64, count=len(enc))
    offs = np.concatenate(([0], np.cumsum(lens[:-1])))
    order = np.argsort(-lens, kind="stable")
    slens, soffs = lens[order], offs[order]
    res = np.full(len(enc), _FNV_OFFSET, dtype=np.uint64)
    maxlen = int(slens[0])
    # cnts[j] = number of tokens longer than j bytes (prefix size at step j)
    cnts = len(enc) - np.cumsum(np.bincount(slens, minlength=maxlen + 1))
    with np.errstate(over="ignore"):
        for j in range(min(maxlen, _VECTOR_BYTE_CAP)):
            c = int(cnts[j])
            if c == 0:
                break
            res[:c] = (res[:c] ^ flat[soffs[:c] + j].astype(np.uint64)) * _FNV_PRIME
    if maxlen > _VECTOR_BYTE_CAP:
        for i in range(int(cnts[_VECTOR_BYTE_CAP])):
            h = int(res[i])
            o = int(soffs[i])
            for ch in flat[o + _VECTOR_BYTE_CAP: o + int(slens[i])].tobytes():
                h = ((h ^ ch) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
            res[i] = h
    out = np.empty_like(res)
    out[order] = res
    return out


@F.pandas_udf(ArrayType(LongType()))
def minhash_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: _minhash_signature(t or "").tolist())


@F.pandas_udf(ArrayType(LongType()))
def word_minhash_udf(texts: pd.Series) -> pd.Series:
    """MinHash over word 3-gram shingles -- the candidate signature matched
    to the word-n-gram Jaccard verifier (char-shingle MinHash over-generates
    candidates on shared-vocabulary corpora by orders of magnitude because
    it estimates a DIFFERENT similarity than the one being verified)."""
    return texts.map(lambda t: _word_minhash_signature(t or "").tolist())


# -- the pair core: one self-join and the smallest-id rule ------------------

def _band_pairs(keyed: DataFrame, *carry: str) -> DataFrame:
    """The package's one symmetric candidate self-join: ``(id, band_key,
    *carry)`` -> ``(id_a, id_b, <c>_a, <c>_b, ...)`` with ``id_a < id_b``,
    one row per shared band key (a pair sharing k keys comes back k times;
    callers count or dedupe). Keys are ~uniform by construction, so the
    equi-join shuffles without skew and is never an O(n^2) cross join."""
    def side(s):
        return keyed.select("band_key", F.col("id").alias(f"id_{s}"),
                            *(F.col(c).alias(f"{c}_{s}") for c in carry))

    return (
        side("a").join(side("b"), "band_key")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *(f"{c}_{s}" for c in carry for s in "ab"))
    )


def _smallest_id(df: DataFrame, key, id_col: str) -> DataFrame:
    """The rows of ``df`` whose ``id_col`` is the smallest among the rows
    sharing ``key`` (a column name or expression, e.g. a text hash): one
    hash groupBy and a semi-join on the id, lazy."""
    canon = df.groupBy(key).agg(F.min(id_col).alias(id_col))
    return df.join(canon.select(id_col), id_col, "left_semi")


# -- exact dedup (ref U2) ----------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text, smallest id wins.

    (ref: last-wins filename overwrite, step7_create_merged_datasets.py:62-66,
    made deterministic and explicit.)
    """
    return _smallest_id(df, F.md5(F.col(text_col)).alias("_h"), id_col)


# -- MinHash + LSH near-dup ---------------------------------------------------

def _bands(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """``(id, sig)`` -> ``(id, sig, band_key)``: one row per LSH band. The
    band index seeds the hash, so equal slices in different bands never
    share a join key -- the band-join keys on ``band_key`` alone."""
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.hash(F.slice("sig", b * rows_per_band + 1, rows_per_band), b),
            )
        ).alias("band_key"),
    )


def _agreement(k: int):
    """Signature agreement of the joined ``sig_a``/``sig_b`` pair (the
    MinHash Jaccard estimate over ``k`` slots), JVM-side, rounded to 4 dp
    before any threshold compare."""
    return F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
                lambda x: x == 1,
            )
        )
        / F.lit(k),
        4,
    )


def minhash_band_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    signature_udf=None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) whose MinHash signatures agree
    on at least one LSH band -- the scale-correct candidate generator for
    any exact pairwise verifier (n-gram Jaccard, edit distance, ...).

    With 16 bands x 4 rows, a pair at true Jaccard j collides with
    probability 1-(1-j^4)^16 (~0.9998 at j=0.8), and bucket keys are
    ~uniform by construction, so the self-join is bucketed and skew-free --
    never O(n^2) in the corpus.

    ``signature_udf`` picks the shingle universe (default char 5-grams);
    MATCH IT TO THE VERIFIER -- pass ``word_minhash_udf`` when the exact
    check is word-n-gram Jaccard, or band agreement estimates the wrong
    similarity and floods the verifier with false candidates (measured
    861k -> ~1k candidate pairs on the sf0.1 corpus for the same 256-pair
    verified output).
    """
    sig_udf = signature_udf if signature_udf is not None else minhash_udf
    sigs = _persist_forced(
        df.select(F.col(id_col).alias("id"), sig_udf(text_col).alias("sig"))
    )
    return _band_pairs(_bands(sigs, bands, rows_per_band)).distinct()


def ngram_jaccard_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Exact word n-gram Jaccard near-dup pairs: MinHash-band candidate
    generation -> JVM-side exact verification (ngram_jaccard_pairs).

    This replaces md5-prefix blocking, which only paired docs whose ENTIRE
    normalized text hashed to the same prefix -- near-dups differing by one
    word landed in the same block with P~=1/256 (recall ~0.4%), and the 256
    content-blind buckets made the self-join O(n^2/256) at scale. Banded
    candidates give ~0.9998 recall at j=0.8 with uniform bucket keys.

    Candidate signatures are minhashes over WORD n-gram shingles -- the
    same universe the verifier measures -- so sub-threshold pairs rarely
    band-collide even on shared-vocabulary corpora.
    """
    if n == 3:
        sig_udf = word_minhash_udf
    else:
        @F.pandas_udf(ArrayType(LongType()))
        def sig_udf(texts: pd.Series) -> pd.Series:
            return texts.map(lambda t: _word_minhash_signature(t or "", n).tolist())

    candidates = minhash_band_candidates(
        df, text_col, id_col, bands, rows_per_band, signature_udf=sig_udf,
    )
    return ngram_jaccard_pairs(df, candidates, text_col, id_col, n, threshold)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Verified near-dup pairs (id_a < id_b, est_jaccard >= threshold).

    shingle -> minhash (Arrow UDF) -> band -> bucket-join -> JVM-side verify.

    Verification runs in the band-join projection: one join, with every
    exploded band row carrying the full 64-long signature through the
    exchange -- ``bands`` x ~520 B = ~8 KB/doc of shuffle (event-log
    measured: 318 MB written + 636 MB read for a 21 MB signature table at
    40k docs). SCALE.md "Dedup at scale" keeps the arithmetic for the
    band-ids-only alternative at cluster scale.
    """
    sigs = _persist_forced(
        df.select(F.col(id_col).alias("id"), minhash_udf(text_col).alias("sig"))
    )
    # Verify in the join projection and filter BEFORE deduplicating: the
    # surviving pair set is tiny, so dropDuplicates aggregates 3 scalar
    # columns instead of dragging two 64-long signature arrays through a
    # SortAggregate (which at web scale would shuffle ~1 KB/pair for nothing).
    # Both join inputs shuffle on band_key with identical child plans, so
    # AQE reuses one exchange.
    return (
        _band_pairs(_bands(sigs, bands, rows_per_band), "sig")
        .select("id_a", "id_b",
                _agreement(bands * rows_per_band).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.8, signature_udf=None) -> DataFrame:
    """Drop every doc that near-duplicates a smaller-id doc.

    Delegates to ``incremental_minhash_dedup`` with an empty ledger: the
    identical single-level-transitivity survivor set (pinned by the
    pair-formulation parity test), plus the ``signature_udf`` scale dial
    and the identical-signature collapse that defuse the low-entropy LSH
    candidate flood (see that docstring and BENCH/STRESS.md).
    """
    kept, _ = incremental_minhash_dedup(
        df, None, text_col, id_col, threshold, signature_udf=signature_udf,
    )
    return kept


# -- exact n-gram Jaccard (verification-grade) --------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word n-gram Jaccard for candidate (id_a, id_b) pairs.

    JVM-side: tokenize once per doc, build distinct n-gram arrays (one
    forced cache read by both join probes), then array_intersect/array_union
    on the joined pairs, rounded to 4 dp before the threshold compare.
    """
    grams = _persist_forced(df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(F.split(F.lower(text_col), r"\s+")) - n, F.lit(0)),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.split(F.lower(text_col), r"\s+"), i + 1, n)
                ),
            )
        ).alias("set"),
    ))
    a = grams.select(F.col("id").alias("id_a"), F.col("set").alias("set_a"))
    b = grams.select(F.col("id").alias("id_b"), F.col("set").alias("set_b"))
    jac = (F.size(F.array_intersect("set_a", "set_b"))
           / F.size(F.array_union("set_a", "set_b")))
    return (
        candidate_pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- corpus-level duplicate-line removal (CCNet/C4-style) ---------------------

def corpus_line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    keep_first: bool = False,
    delimiter: str = "\n",
    scope_col: str | None = None,
) -> DataFrame:
    """Corpus-WIDE duplicate-line removal: any non-blank line occurring at
    least ``min_count`` times across the whole corpus is removed from every
    document (``keep_first=False``, the CCNet paragraph-dedup rule) or from
    every document except its globally-first occurrence by ``(id, pos)``
    (``keep_first=True``, the C4 "all but one" rule).  Blank /
    whitespace-only lines are structural and never counted or removed.
    Returns ``df`` with ``text_col`` rewritten; all other columns intact.

    ``scope_col`` (optional) restricts the rule to a grouping column: a
    line is heavy only if it repeats >= min_count times WITHIN the same
    scope value (registrable domain, crawl snapshot, language shard...).
    This is the per-site boilerplate rule -- a nav bar repeated across one
    host must not delete an identical-looking line that appears once on an
    unrelated host, and per-domain counting keeps the heavy set
    proportional to #domains x boilerplate-per-domain instead of letting
    cross-site coincidences (dates, "Page 1") go heavy corpus-wide. Rows
    with a NULL scope never match a heavy key and pass through unchanged.

    No reference precedent (the reference cleans one document at a time,
    functions/scrub.py covers those per-document line drops); this is the
    corpus-level boilerplate gate every published web pipeline applies
    (C4 Raffel et al. 2020 sec 2.2; CCNet Wenzek et al. 2020 sec 3.1).

    Scale shape -- pure Catalyst, zero Python:
      * counting shuffles 16-byte md5 line keys, never line text, and
        map-side partial aggregation collapses per-partition repeats first;
      * the heavy set (lines repeated >= min_count) is boilerplate --
        footers, nav bars, cookie banners -- tiny relative to the corpus,
        so it broadcasts and the membership probes are broadcast joins;
      * only AFFECTED documents (>=1 heavy line, found by a broadcast
        semi-join) are exploded and rebuilt; the untouched majority of the
        corpus passes through with no shuffle at all;
      * keep_first resolves the surviving occurrence with
        groupBy(line).agg(min(struct(id,pos))) -- partial-aggregatable --
        instead of a row_number window, whose per-key sort would hotspot
        exactly on the heavy hitters this operator targets.
    Open limit: both heavy-set joins force ``F.broadcast``, which overrides
    ``autoBroadcastJoinThreshold``, so a heavy set past the executors'
    broadcast budget fails the job instead of falling back to a shuffled
    join on the md5 keys (SCALE.md).
    """

    scope_sel = [F.col(scope_col).alias("_scope")] if scope_col else []
    keys = (["_scope"] if scope_col else []) + ["_h"]
    nb_hashes = (
        df.select(
            F.col(id_col).alias("_id"),
            *scope_sel,
            F.posexplode(F.split(F.col(text_col), delimiter, -1))
             .alias("_pos", "_line"),
        )
        .where(F.trim(F.col("_line")) != "")
        .select("_id", *(["_scope"] if scope_col else []), "_pos",
                F.md5(F.encode("_line", "utf-8")).alias("_h"))
    )
    nb_hashes = _persist_forced(nb_hashes)

    heavy = (
        nb_hashes.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_cnt"),
             F.min(F.struct("_id", "_pos")).alias("_first"))
        .where(F.col("_cnt") >= min_count)
        .select(*keys, "_first")
    )
    heavy = _persist_forced(heavy)

    affected_ids = _persist_forced(
        nb_hashes.join(F.broadcast(heavy.select(*keys)), keys, "left_semi")
        .select("_id").distinct()
    )
    untouched = df.join(
        affected_ids.withColumnRenamed("_id", id_col), id_col, "left_anti"
    )
    affected = df.join(
        affected_ids.withColumnRenamed("_id", id_col), id_col, "left_semi"
    )

    aff_lines = affected.select(
        F.col(id_col).alias("_id"),
        *scope_sel,
        F.posexplode(F.split(F.col(text_col), delimiter, -1)).alias("_pos", "_line"),
    ).withColumn("_h", F.md5(F.encode("_line", "utf-8")))
    marked = aff_lines.join(F.broadcast(heavy), keys, "left")
    is_heavy = F.col("_first").isNotNull() & (F.trim(F.col("_line")) != "")
    if keep_first:
        drop = is_heavy & ~(
            (F.col("_first._id") == F.col("_id"))
            & (F.col("_first._pos") == F.col("_pos"))
        )
    else:
        drop = is_heavy

    packed = F.array_sort(
        F.collect_list(F.struct(
            F.col("_pos").alias("p"),
            F.col("_line").alias("l"),
            drop.alias("d"),
        ))
    )
    rebuilt = (
        marked.groupBy("_id")
        .agg(F.concat_ws(
            delimiter,
            F.transform(F.filter(packed, lambda s: ~s["d"]), lambda s: s["l"]),
        ).alias("_new_text"))
    )
    fixed = (
        affected.join(rebuilt.withColumnRenamed("_id", id_col), id_col)
        .withColumn(text_col, F.col("_new_text"))
        .drop("_new_text")
        .select(*df.columns)
    )
    return untouched.select(*df.columns).unionByName(fixed)


# -- exact duplicated-span removal (Lee et al. 2021, ExactSubstr) -----------

def exact_span_dedup(
    df: DataFrame,
    g: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide exact duplicated-SPAN removal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): every g-word window that occurs more than once anywhere
    in the corpus is a duplicated span; all occurrences EXCEPT the
    globally first (smallest (doc_id, pos)) are removed from their
    documents. Overlapping duplicate windows union into one removed span,
    so a repeated 40-word passage disappears as a block from every copy
    but the first.

    Output adds two columns: ``kept_text`` -- the surviving word stream
    (the operator is defined over the lowercase \\w+ token stream, so
    punctuation / casing / spacing are NOT preserved; Lee et al. likewise
    operate on the token stream) -- and ``n_removed_words``. Rows keep all
    original columns; docs shorter than g words are untouched by
    construction.

    The reference has no corpus-level operators; task-brief scope. Scale
    shape mirrors corpus_line_dedup: one explode to (doc, pos, md5(gram))
    -- n_words rows per doc, the inherent cost of substring-level dedup
    without a monolithic suffix array -- one shuffle to count keys +
    locate the global first occurrence (map-side partial agg), a join
    back on the key restricted to duplicated keys, and an AFFECTED-ONLY
    rebuild: the marked-starts frame joins inner, so untouched documents
    never pass through the rebuild projection. The exploded frame is
    cached because it feeds both the key stats and the join-back --
    uncached, the corpus is exploded twice.
    """

    if g < 2:
        raise ValueError(f"g must be >= 2, got {g}")
    words = F.coalesce(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\w+"), F.lit(0)),
        F.array().cast("array<string>"),
    )
    toks = df.select(F.col(id_col).alias("_id"), words.alias("_w"))

    occ = (
        toks.where(F.size("_w") >= g)
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - (g - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice("_w", i, g))).alias("key"),
                    ),
                )
            ).alias("o"),
        )
        .select("_id", F.col("o.pos").alias("pos"), F.col("o.key").alias("key"))
    )
    occ = _persist_forced(occ)

    dup_keys = (
        occ.groupBy("key")
        .agg(
            F.count("*").alias("c"),
            F.min(F.struct(F.col("_id"), F.col("pos"))).alias("first"),
        )
        .where(F.col("c") > 1)
    )
    starts = (
        occ.join(dup_keys, "key")
        .where(F.struct(F.col("_id"), F.col("pos")) != F.col("first"))
        .groupBy("_id")
        .agg(F.collect_set("pos").alias("_starts"))
    )
    # feeds BOTH union branches (inner rebuild + left_anti passthrough);
    # AQE compiles them independently, so without this the key-stats join
    # + collect_set run twice (plan test counts the collect_set)
    starts = _persist_forced(starts)

    base = df.withColumn("_w", words)
    touched = (
        base.join(starts, base[id_col] == starts["_id"], "inner")
        .withColumn(
            "_kept",
            F.filter(
                "_w",
                lambda x, i: ~F.exists(
                    "_starts",
                    lambda s: (s <= i + 1) & (i + 1 < s + g),
                ),
            ),
        )
        .select(
            *df.columns,
            F.concat_ws(" ", "_kept").alias("kept_text"),
            (F.size("_w") - F.size("_kept")).alias("n_removed_words"),
        )
    )
    untouched = (
        base.join(starts, base[id_col] == starts["_id"], "left_anti")
        .select(
            *df.columns,
            F.concat_ws(" ", "_w").alias("kept_text"),
            F.lit(0).alias("n_removed_words"),
        )
    )
    return untouched.unionByName(touched)


# -- incremental (snapshot-over-snapshot) dedup -------------------------------
#
# Web corpora arrive as monthly Common-Crawl-style snapshots. Re-deduplicating
# the union from scratch every month is O(corpus) forever; the production
# shape is a LEDGER: dedup each new snapshot against (a) itself and (b) a
# compact table distilled from everything previously kept -- 16-byte content
# hashes for exact dedup, 64-long MinHash signatures for near-dup -- then
# append the survivors' entries to the ledger. The already-kept documents are
# NEVER rescanned. No reference precedent (the reference is a one-shot batch
# cleaner); the pattern follows the incremental dedup described for
# CCNet/RefinedWeb-scale crawls (Penedo et al. 2023 sec 3.3).

def incremental_exact_dedup(
    new_df: DataFrame,
    seen_hashes: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
    unpersist_prior=None,
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup a new snapshot against itself and a prior-content ledger.

    ``seen_hashes``: one column ``hash_col`` (md5 hex of document text) per
    previously-KEPT document; ``None`` for the first snapshot. Returns
    ``(kept, updated_seen)`` where ``kept`` keeps the smallest ``id_col``
    per batch-internal duplicate group and drops anything whose hash is
    already in the ledger, and ``updated_seen`` = ledger + kept hashes
    (disjoint by construction, so a plain union -- no distinct needed).

    Scale shape: the ledger holds 16 bytes/doc (10^12 docs ~ 16 TB --
    joinable, unlike the corpus itself). Both the batch-internal groupBy
    and the ledger anti-join shuffle on the uniform md5 key, so there is
    no skew; storing the ledger bucketed by ``hash_col`` (e.g.
    ``bucketBy(8192, hash_col)``) makes the monthly anti-join shuffle-free
    on the ledger side. The surviving-rows frame is cached because it
    feeds both returned frames (AQE would otherwise compile the two
    consumers independently and run the anti-join twice).

    Cache lifecycle: the returned frames carry ``.dedup_caches`` (a
    ``CacheHandle`` over the caches this call pinned). In a per-batch
    ingest loop pass the PREVIOUS batch's handle as ``unpersist_prior=``
    (handle, frame carrying one, or iterable of either): this call first
    force-persists the returned ledger so it no longer reads the prior
    batch's caches, then releases them -- executor storage stays flat
    across the loop (pinned by tests/test_incremental_cache_lifecycle.py).
    """

    with collect_caches() as handle:
        hashed = new_df.withColumn(
            hash_col, F.md5(F.encode(F.col(text_col), "utf-8"))
        )
        batch_kept = _smallest_id(hashed, hash_col, id_col)
        if seen_hashes is not None:
            kept_h = batch_kept.join(
                seen_hashes.select(hash_col), hash_col, "left_anti"
            )
        else:
            kept_h = batch_kept
        kept_h = _persist_forced(kept_h)
        kept = kept_h.select(*new_df.columns)
        new_entries = kept_h.select(hash_col)
        if seen_hashes is None:
            ledger = new_entries
        else:
            ledger = seen_hashes.select(hash_col).unionByName(new_entries)
            if unpersist_prior is not None:
                # make the new ledger self-contained BEFORE the prior
                # batch's caches (which its union arm still reads) go away
                ledger = _persist_forced(ledger)
    if unpersist_prior is not None:
        release_caches(unpersist_prior)
    _attach_handle(handle, kept, ledger)
    return kept, ledger


def incremental_minhash_dedup(
    new_df: DataFrame,
    seen_sigs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    bands: int = 16,
    rows_per_band: int = 4,
    signature_udf=None,
    unpersist_prior=None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup-dedup a new snapshot against itself and a signature ledger.

    ``seen_sigs``: columns ``(id, sig)`` -- the 64-long MinHash signatures
    of previously-kept documents (produced by the SAME ``signature_udf``
    as this call uses; default char-5-shingle ``minhash_udf``); ``None``
    for the first snapshot. A new document is dropped iff its signature
    agreement is >= ``threshold`` with ANY ledger document (regardless of
    id order -- the ledger doc is already kept and stays), or with a
    smaller-id document of its own batch (the same single-level
    transitivity as ``minhash_dedup``). Returns ``(kept, updated_seen)``
    with ``updated_seen`` = ledger + the survivors' signatures.

    ``signature_udf`` picks the shingle universe (same dial as
    ``minhash_band_candidates``): pass ``word_minhash_udf`` for corpora
    whose character n-gram space is low-entropy (short template-ish docs
    over a shared vocabulary make char-shingle Jaccard high between
    UNRELATED docs, flooding the band join with mid-similarity candidates
    -- measured: the 1M-page synthetic corpus floods char-shingle LSH but
    runs clean on word 3-grams, BENCH/STRESS.md).

    New docs with IDENTICAL signatures are first collapsed to their
    smallest id via a linear hash-groupBy, so a boilerplate cluster of m
    byte-similar docs costs m rows instead of m^2/bands band-join pairs.
    Lossless by construction: identical signatures give agreement 1 with
    each other (>= any threshold) and IDENTICAL estimates against every
    third signature, so the surviving representative reproduces exactly
    the pairs its clones would have.

    Scale shape: signatures are computed ONCE per new doc (Arrow UDF over
    the batch, cached) and candidates come from LSH band-bucket equality
    against ledger+batch band keys -- ~uniform by construction, so the
    probe join is skew-free and costs |new| x bands lookups, never
    O(|ledger| x |new|). Verification is the JVM-side zip_with agreement
    on the already-joined signature pair. Store the ledger bucketed by
    band key at production scale to keep its side of the probe
    shuffle-free; the ledger grows 512 B/doc.

    Id hygiene: snapshot ids are expected to be DISJOINT from ledger ids
    (a re-crawl of a kept url should arrive under a new capture id; see
    ``latest_capture`` for collapsing revisits first). If a ledger id does
    reappear in the new snapshot, the new copy is still dropped when its
    text is similar to the ledger copy (self-pair against the ledger
    signature).

    Cache lifecycle (the mechanized form of the module contract):
    construction runs Spark jobs immediately (forced cache fills -- see
    ``_persist_forced``), and the returned frames carry ``.dedup_caches``.
    In a per-batch ingest loop pass the PREVIOUS batch's handle as
    ``unpersist_prior=``: this call force-persists the returned ledger
    first (so it stops reading the prior batch's caches), then releases
    them -- executor storage stays flat across the loop
    (tests/test_incremental_cache_lifecycle.py).
    """
    sig_udf = signature_udf if signature_udf is not None else minhash_udf
    with collect_caches() as handle:
        # new_sigs fans out into 3+ branches (canon groupBy, collapse
        # semi/anti, band sides, kept_sigs), several materialized as
        # CONCURRENT broadcast jobs -- the race _persist_forced exists for
        # (event-log measured 4-5x UDF recompute with a lazy persist here)
        new_sigs = _persist_forced(new_df.select(
            F.col(id_col).alias("id"), sig_udf(text_col).alias("sig")
        ))

        canon = new_sigs.groupBy("sig").agg(F.min("id").alias("id"))
        # forced, like new_sigs: a lazy persist here measured WORSE
        # (2-core wall 39.5 -> 67 s quiet-window) -- the band-side
        # consumers race and each re-runs the collapse groupBy
        # (SortAggregate over 64-long arrays, the costly part), so the
        # one count() barrier is the cheaper side of the trade.
        survivors = _persist_forced(
            new_sigs.join(canon.select("id"), "id", "left_semi")
        )
        collapse_dropped = new_sigs.join(
            canon.select("id"), "id", "left_anti"
        ).select(F.col("id").alias(id_col))

        new_bands = _bands(survivors, bands, rows_per_band)
        left = new_bands.select(
            "band_key", F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
        )
        right = new_bands.select(
            "band_key", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"),
            F.lit(False).alias("is_prior"),
        )
        if seen_sigs is not None:
            right = right.unionByName(
                _bands(seen_sigs.select("id", "sig"), bands, rows_per_band).select(
                    "band_key", F.col("id").alias("id_b"),
                    F.col("sig").alias("sig_b"), F.lit(True).alias("is_prior"),
                )
            )
        dup_ids = (
            left.join(right, "band_key")
            .where(F.col("is_prior") | (F.col("id_b") < F.col("id_a")))
            .where(_agreement(bands * rows_per_band) >= threshold)
            .select(F.col("id_a").alias(id_col))
            .distinct()
            .unionByName(collapse_dropped)
        )
        dup_ids = _persist_forced(dup_ids)
        kept = new_df.join(dup_ids, id_col, "left_anti")
        kept_sigs = new_sigs.join(
            dup_ids.withColumnRenamed(id_col, "id"), "id", "left_anti"
        )
        if seen_sigs is None:
            ledger = kept_sigs
        else:
            ledger = seen_sigs.select("id", "sig").unionByName(kept_sigs)
            if unpersist_prior is not None:
                # the ledger union's seen_sigs arm reads the prior batch's
                # caches; pin it to its own cache before they go away
                ledger = _persist_forced(ledger)
    if unpersist_prior is not None:
        release_caches(unpersist_prior)
    _attach_handle(handle, kept, ledger)
    return kept, ledger


def latest_capture(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """URL-revisit dedup: keep the NEWEST capture of each url (the standard
    Common-Crawl policy for re-crawled pages -- content-hash dedup keeps
    byte-identical recrawls, but a page whose content CHANGED between
    crawls must be collapsed to its freshest capture, not its smallest
    id). One output row per distinct url, all columns preserved.

    ``tiebreak_col`` makes equal-timestamp captures deterministic (ordering
    becomes (ts, tiebreak) lexicographic); without it, exact-tie winners
    are whichever partial the merge sees last -- fine when (url, ts) is
    unique by construction (WARC capture times), documented otherwise.

    Scale shape: a single partial-aggregatable ``max_by`` -- each map task
    keeps one candidate row per url it sees, the shuffle carries one row
    per (url, map task), and the reduce keys are urls (effectively unique,
    skew-free). No window function: a row_number over 10^12 urls would
    sort every partition; max_by folds instead.
    """
    ordering = (
        F.struct(F.col(ts_col), F.col(tiebreak_col))
        if tiebreak_col is not None
        else F.col(ts_col)
    )
    return (
        pages.groupBy(url_col)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in pages.columns if c != url_col]),
                ordering,
            ).alias("_r")
        )
        .select(url_col, "_r.*")
    )
