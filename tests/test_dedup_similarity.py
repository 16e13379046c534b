"""Dedup + similarity operator correctness vs pure-python/numpy oracles."""

import pytest
from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "gallia est omnis divisa in partes tres quarum unam incolunt belgae "
        "aliam aquitani tertiam qui ipsorum lingua celtae nostra galli appellantur"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("belgae", "galli")),  # near dup of 0
        (3, "arma virumque cano troiae qui primus ab oris italiam fato profugus "
            "laviniaque venit litora multum ille et terris iactatus et alto"),
        (4, "at regina gravi iamdudum saucia cura vulnus alit venis et caeco "
            "carpitur igni multa viri virtus animo multusque recursat"),
        (5, base + " extra verba in fine posita sunt hic"),  # near dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs)
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 not in ids and 0 in ids
    assert ids == {0, 2, 3, 4, 5}


def _minhash_pairs_brute_force(rows, threshold):
    """All-pairs signature agreement over dedup._minhash_signature, rounded
    half-up at 4 dp like Spark's ``round`` (50/64 = 0.78125 -> 0.7813, where
    Python's ``round`` gives 0.7812)."""
    from decimal import ROUND_HALF_UP, Decimal

    sigs = {i: dedup._minhash_signature(t) for i, t in rows}
    out = {}
    for a in sigs:
        for b in sigs:
            if a < b:
                agree = int((sigs[a] == sigs[b]).sum())
                est = float((Decimal(agree) / Decimal(sigs[a].size))
                            .quantize(Decimal("0.0001"), ROUND_HALF_UP))
                if est >= threshold:
                    out[(a, b)] = est
    return out


def test_minhash_pairs_and_dedup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in dedup.minhash_near_duplicates(docs, threshold=0.7).collect()}
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    assert pairs == _minhash_pairs_brute_force(rows, 0.7)
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs or (0, 5) in pairs  # near dups found
    assert not any({a, b} == {3, 4} for a, b in pairs)  # unrelated texts not paired
    kept = {r["doc_id"] for r in dedup.minhash_dedup(docs, threshold=0.7).collect()}
    assert 0 in kept and 1 not in kept and 3 in kept and 4 in kept


def test_ngram_jaccard_persist_hashes_and_grams_once(spark, tmp_path):
    """The n-gram path needs the word-minhash signature on both band-join
    sides AND the gram array on both verify-join sides; uncached that is 2
    UDF passes + 4 full text scans. All four branches read a cache."""
    base = "verba multa hic posita sunt et alia verba sequuntur statim "
    rows = [(i, base + ("finis %d" % (i % 3))) for i in range(50)]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    d = spark.read.parquet(path)
    out_p = dedup.ngram_jaccard_near_duplicates(d)
    plan_p = out_p._jdf.queryExecution().executedPlan().toString()
    assert plan_p.count("InMemoryTableScan") >= 4, plan_p
    rows_p = {(r.id_a, r.id_b) for r in out_p.collect()}
    # identical texts (same i % 3) always pair at Jaccard 1
    assert {(a, b) for a in range(50) for b in range(a + 1, 50)
            if a % 3 == b % 3} <= rows_p


def test_ngram_jaccard(docs, spark):
    cands = spark.createDataFrame([(0, 1), (0, 2), (3, 4)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(docs, cands, threshold=0.0).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.5 < out[(0, 2)] < 1.0
    assert out[(3, 4)] < 0.1


def test_ngram_jaccard_near_duplicates_finds_one_word_edit(spark):
    """A 1-word-edit near-dup pair that md5-prefix blocking provably missed
    (different whole-text fingerprints -> different blocks with P=255/256)
    must be found by the MinHash-band candidate path."""
    import hashlib
    import re

    words = ("gallia est omnis divisa in partes tres quarum unam incolunt "
             "belgae aliam aquitani tertiam qui ipsorum lingua celtae nostra "
             "galli appellantur hi omnes lingua institutis legibus inter se "
             "differunt gallos ab aquitanis garumna flumen a belgis matrona "
             "et sequana dividit horum omnium fortissimi sunt belgae").split()
    a = " ".join(words)
    b = " ".join(w if i != 20 else "romani" for i, w in enumerate(words))

    def block(t):  # the old operator's md5-prefix block key
        return hashlib.md5(
            re.sub(r"\s+", " ", t.lower()).encode()
        ).hexdigest()[:2]

    assert block(a) != block(b), "fixture must land in different md5 blocks"

    df = spark.createDataFrame(
        [(0, a), (1, b), (2, "arma virumque cano troiae qui primus ab oris " * 6)],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.ngram_jaccard_near_duplicates(df, threshold=0.8).collect()}
    assert (0, 1) in pairs, pairs
    assert pairs[(0, 1)] >= 0.8
    assert all(2 not in p for p in pairs)


def test_minhash_band_candidates_are_bucketed_not_allpairs(spark):
    """Candidate generation must not degrade to a cross product: unrelated
    docs yield no candidate pairs."""
    import random

    def doc(i):
        rng = random.Random(1000 + i)
        return " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
            for _ in range(60)
        )

    rows = [(i, doc(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.minhash_band_candidates(df).count() == 0


def test_domain_cap_keeps_k_smallest(spark):
    from wikisource_latin_text_cleaner_spark.operators import sampling

    rows = [(i, "dom%d" % (i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.domain_cap(df, "source", k=2).collect()
    by_dom: dict = {}
    for r in out:
        by_dom.setdefault(r.source, []).append(r.doc_id)
    assert {d: sorted(v) for d, v in by_dom.items()} == {
        "dom0": [0, 3], "dom1": [1, 4], "dom2": [2, 5]}


def test_domain_cap_salted_matches_unsalted(spark):
    """Planted mega-domain: the salted two-phase path must (a) return the
    IDENTICAL survivor set as the single-window path and (b) bound the
    phase-1 window-partition input to ~|mega|/n_salts rows (VERDICT r2
    item #4 -- at 10^12 rows one Zipfian mega-domain otherwise pins a
    single window task)."""
    from pyspark.sql import functions as F

    from wikisource_latin_text_cleaner_spark.operators import sampling

    mega = 4000
    rows = [(i, "mega.example") for i in range(mega)]
    rows += [(10_000 + i, "tail%d.example" % (i % 20)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string").cache()

    unsalted = sampling.domain_cap(df, "source", k=5)
    salted = sampling.domain_cap(
        df, "source", k=5, heavy_threshold=1000, n_salts=16
    )
    a = sorted((r.source, r.doc_id) for r in unsalted.collect())
    b = sorted((r.source, r.doc_id) for r in salted.collect())
    assert a == b and len(a) == 5 + 20 * 5

    # phase-1 group sizes: the mega-domain's rows split across n_salts
    # groups, so no window partition sees more than ~2x mega/n_salts rows
    groups = (
        df.where(F.col("source") == "mega.example")
        .withColumn("_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(16)))
        .groupBy("_salt")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert len(groups) == 16
    assert max(r["n"] for r in groups) <= 2 * mega / 16

    # threshold not reached -> falls back to the single-window plan
    fallback = sampling.domain_cap(df, "source", k=5, heavy_threshold=10**9)
    assert sorted((r.source, r.doc_id) for r in fallback.collect()) == a


def test_domain_cap_null_domains_survive_both_paths(spark):
    """NULL domains form one window group; they can never enter the heavy
    list (isin can't match NULL) so the salted path must still cap them
    correctly via the light branch -- and identically to the unsalted plan."""
    from wikisource_latin_text_cleaner_spark.operators import sampling

    rows = [(i, None if i % 3 == 0 else "dom%d" % (i % 2)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    key = lambda r: (r.source or "", r.doc_id)  # noqa: E731
    a = sorted(map(key, sampling.domain_cap(df, "source", k=3).collect()))
    b = sorted(map(key, sampling.domain_cap(
        df, "source", k=3, heavy_threshold=5, n_salts=4).collect()))
    assert a == b
    assert [x for x in a if x[0] == ""] == [("", 0), ("", 3), ("", 6)]


def test_signature_kernels_bounded_memory_on_huge_doc():
    """A multi-MB outlier document must not blow up executor Python-worker
    memory: the one-shot formulation allocated a (64 x n_shingles) int64
    temp (~3 GB for a 6 MB doc); the block-wise kernels stay under a few
    hundred MB. Run in a subprocess under an address-space rlimit so a
    regression fails loudly instead of silently eating executor memory."""
    import subprocess
    import sys
    import textwrap

    prog = textwrap.dedent(
        """
        import resource
        import numpy as np
        from wikisource_latin_text_cleaner_spark.operators import dedup
        # high-entropy ~6 MB doc: nearly all shingles DISTINCT, so the
        # one-shot kernel's (64 x n_shingles) temp would be ~3 GB (a
        # repetitive doc dedupes to a handful of shingles and catches
        # nothing). Generated before the rlimit so setup isn't counted.
        rng = np.random.RandomState(7)
        alphabet = np.frombuffer(b"abcdefghijklmnop qrstu", dtype=np.uint8)
        doc = alphabet[rng.randint(0, len(alphabet), 6_000_000)].tobytes().decode()
        # cap address space at current usage + 512 MB AFTER imports (numpy
        # alone reserves more VA than the kernels are allowed to add)
        with open("/proc/self/status") as f:
            cur_kb = next(int(l.split()[1]) for l in f if l.startswith("VmSize"))
        lim = (cur_kb << 10) + (512 << 20)
        resource.setrlimit(resource.RLIMIT_AS, (lim, lim))
        sig = dedup._minhash_signature(doc)
        assert sig.shape == (64,)
        wsig = dedup._word_minhash_signature(doc)
        assert wsig.shape == (64,)
        print("OK")
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", prog], capture_output=True, text=True, timeout=120
    )
    assert r.returncode == 0 and "OK" in r.stdout, r.stderr[-2000:]


# --- KMV corpus-overlap sketches -------------------------------------------

def test_kmv_overlap_exact_below_k(spark):
    """Union smaller than k: the sketch IS the union, so the estimate
    equals the exact Jaccard. A:{0..29}, B:{20..49} -> J = 10/50."""
    from wikisource_latin_text_cleaner_spark.operators import textstats

    rows = [(i, "a") for i in range(30)] + [(i, "b") for i in range(20, 50)]
    df = spark.createDataFrame(rows, "item long, grp string")
    r = textstats.kmv_overlap(df, "grp", F.col("item"), k=256).first()
    assert (r["ga"], r["gb"]) == ("a", "b")
    assert r["n_union"] == 50
    assert r["j_est"] == r["j_exact"] == round(10 / 50, 6)


def test_kmv_overlap_estimates_planted_jaccard(spark):
    """10k-item sets with 50% overlap, k=256: the estimate must land
    within ~4 standard errors (sigma ~= sqrt(J(1-J)/k)) of truth."""
    from wikisource_latin_text_cleaner_spark.operators import textstats

    n, shift = 10_000, 5_000
    rows = [(i, "a") for i in range(n)] + [(i + shift, "b") for i in range(n)]
    true_j = (n - shift) / (n + shift)
    df = spark.createDataFrame(rows, "item long, grp string")
    r = textstats.kmv_overlap(df, "grp", F.col("item"), k=256).first()
    assert r["j_exact"] == round(true_j, 6)
    assert abs(r["j_est"] - true_j) <= 4 * (true_j * (1 - true_j) / 256) ** 0.5
    assert r["n_union"] == n + shift


def test_kmv_overlap_prefilter_preserves_estimate(spark):
    """KMV threshold sampling: keeping only hashes < frac * 2^60 must not
    change the bottom-k (survivors >> k), so j_est is identical; only the
    exact-Jaccard denominator shrinks to the surviving union."""
    from wikisource_latin_text_cleaner_spark.operators import textstats

    n, shift = 10_000, 5_000
    rows = [(i, "a") for i in range(n)] + [(i + shift, "b") for i in range(n)]
    df = spark.createDataFrame(rows, "item long, grp string")
    full = textstats.kmv_overlap(df, "grp", F.col("item"), k=64).first()
    pre = textstats.kmv_overlap(
        df, "grp", F.col("item"), k=64, prefilter_frac=0.2).first()
    assert pre["j_est"] == full["j_est"]
    assert pre["n_union"] < full["n_union"]


def test_kmv_overlap_validation(spark):
    from wikisource_latin_text_cleaner_spark.operators import textstats

    df = spark.createDataFrame([(0, "a")], "item long, grp string")
    with pytest.raises(ValueError, match="k must"):
        textstats.kmv_overlap(df, "grp", F.col("item"), k=0)
    with pytest.raises(ValueError, match="prefilter_frac"):
        textstats.kmv_overlap(df, "grp", F.col("item"), prefilter_frac=1.5)


def test_minhash_dedup_signature_udf_runs_exactly_once(spark, docs):
    """_persist_forced regression: the signature UDF must execute exactly
    once per document across the WHOLE minhash_dedup action graph.  With a
    lazy persist, the plan's fan-out (collapse groupBy + semi/anti joins +
    band-join sides) materializes as concurrent jobs that each find an
    unfilled cache and recompute the UDF -- event-log measured 4-5 full
    recomputes on a 40k-doc corpus, making local[32] slower than local[8].
    An accumulator inside a caller-supplied signature_udf counts actual
    per-row executions, independent of plan shape.  Honest caveat: the
    race itself is load/timing-dependent and does not reproduce at
    unit-test scale (lazy persist also measures exactly-once on a 6-doc
    corpus), so this is a contract assertion plus documentation pointer,
    not a deterministic reproduction -- the 40k-doc reproduction recipe
    is in dedup._persist_forced's docstring."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    calls = spark.sparkContext.accumulator(0)
    real = dedup._word_minhash_signature

    @pandas_udf("array<long>")
    def counting_sig_udf(texts: pd.Series) -> pd.Series:
        nonlocal_calls = len(texts)
        calls.add(nonlocal_calls)
        return texts.map(lambda t: [int(x) for x in real(t or "")])

    n_docs = docs.count()
    kept = dedup.minhash_dedup(docs, threshold=0.9,
                               signature_udf=counting_sig_udf)
    kept.write.mode("overwrite").format("noop").save()
    assert calls.value == n_docs, (
        f"signature UDF ran on {calls.value} rows for {n_docs} docs -- "
        "the persisted signature frame is being recomputed by a concurrent "
        "consumer (see dedup._persist_forced)"
    )
