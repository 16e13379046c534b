"""Incremental (snapshot-over-snapshot) dedup: incremental_exact_dedup and
incremental_minhash_dedup, plus the per-scope variant of corpus_line_dedup.

Planted fixtures prove the ledger semantics the operators promise:
  * batch-internal dups keep the smallest id;
  * anything already in the ledger is dropped regardless of id order;
  * the returned ledger is exactly old + survivors (so chaining snapshot
    after snapshot never re-admits a duplicate);
  * per-scope line dedup removes a line only inside the scope where it is
    heavy.
"""

import pytest
from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark.operators import dedup


def _ids(df, col="doc_id"):
    return sorted(r[0] for r in df.select(col).collect())


# -- incremental exact --------------------------------------------------------

def test_incremental_exact_first_snapshot(spark):
    df = spark.createDataFrame(
        [(10, "alpha"), (11, "beta"), (12, "beta"), (13, "gamma")],
        ["doc_id", "text"],
    )
    kept, seen = dedup.incremental_exact_dedup(df, None)
    assert _ids(kept) == [10, 11, 13]  # 12 loses to 11 within the batch
    assert seen.count() == 3
    assert seen.columns == ["content_hash"]


def test_incremental_exact_against_ledger(spark):
    snap1 = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    _, seen = dedup.incremental_exact_dedup(snap1, None)
    # snapshot 2: 20 re-crawls "alpha" (SMALLER hash-ordering irrelevant --
    # ledger wins regardless of id), 21/22 are an internal dup pair, 23 new
    snap2 = spark.createDataFrame(
        [(20, "alpha"), (21, "delta"), (22, "delta"), (23, "epsilon")],
        ["doc_id", "text"],
    )
    kept, seen2 = dedup.incremental_exact_dedup(snap2, seen)
    assert _ids(kept) == [21, 23]
    assert seen2.count() == 4  # alpha, beta, delta, epsilon
    # chaining: a third snapshot of nothing but already-seen text drops all
    snap3 = spark.createDataFrame(
        [(30, "alpha"), (31, "delta"), (32, "epsilon")], ["doc_id", "text"]
    )
    kept3, seen3 = dedup.incremental_exact_dedup(snap3, seen2)
    assert kept3.count() == 0
    assert seen3.count() == 4


def test_incremental_exact_keeps_all_columns(spark):
    df = spark.createDataFrame(
        [(1, "alpha", "en"), (2, "alpha", "fr")], ["doc_id", "text", "lang"]
    )
    kept, _ = dedup.incremental_exact_dedup(df, None)
    assert kept.columns == ["doc_id", "text", "lang"]
    assert kept.collect()[0]["lang"] == "en"


# -- incremental minhash ------------------------------------------------------

BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays on "
    "and the crowd cheers loudly in the warm summer evening air tonight"
)
NEAR = BASE.replace("crowd", "crown")  # one-char change: jaccard ~ 1
OTHER = (
    "completely different subject matter entirely unrelated to any fox "
    "narrative discussing quarterly financial projections and tax policy"
)


def test_incremental_minhash_first_snapshot(spark):
    df = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER)], ["doc_id", "text"]
    )
    kept, seen = dedup.incremental_minhash_dedup(df, None, threshold=0.8)
    assert _ids(kept) == [1, 3]  # 2 near-duplicates smaller-id 1
    assert sorted(seen.columns) == ["id", "sig"]
    assert _ids(seen, "id") == [1, 3]


def test_incremental_minhash_against_ledger(spark):
    snap1 = spark.createDataFrame([(5, BASE)], ["doc_id", "text"])
    _, seen = dedup.incremental_minhash_dedup(snap1, None, threshold=0.8)
    # new snapshot: 1 near-dups the LEDGER doc (id 1 < 5 -- must still be
    # dropped: the ledger doc is already kept), 2 is novel, 9 near-dups 2...
    other_near = OTHER.replace("tax", "fax")
    snap2 = spark.createDataFrame(
        [(1, NEAR), (2, OTHER), (9, other_near)], ["doc_id", "text"]
    )
    kept, seen2 = dedup.incremental_minhash_dedup(snap2, seen, threshold=0.8)
    assert _ids(kept) == [2]
    assert _ids(seen2, "id") == [2, 5]
    # chaining: the survivor's signature now guards future snapshots
    snap3 = spark.createDataFrame([(7, other_near)], ["doc_id", "text"])
    kept3, _ = dedup.incremental_minhash_dedup(snap3, seen2, threshold=0.8)
    assert kept3.count() == 0


def test_incremental_minhash_matches_pair_formulation(spark):
    """With no ledger, the incremental operator (and minhash_dedup, which
    delegates to it) must reproduce the independent pair-derived survivor
    set: drop b iff some verified pair (a<b) exists."""
    rows = [(i, BASE) for i in (1, 4)] + [(2, NEAR), (3, OTHER), (6, OTHER)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept, _ = dedup.incremental_minhash_dedup(df, None, threshold=0.8)
    dup_ids = (
        dedup.minhash_near_duplicates(df, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    pair_kept = df.join(dup_ids, "doc_id", "left_anti")
    assert _ids(kept) == _ids(pair_kept)
    assert _ids(dedup.minhash_dedup(df, threshold=0.8)) == _ids(pair_kept)


# -- per-scope corpus line dedup ----------------------------------------------

def test_corpus_line_dedup_scoped(spark):
    rows = [
        (1, "a.com", "PROMO BANNER\nbody one"),
        (2, "a.com", "PROMO BANNER\nbody two"),
        (3, "a.com", "PROMO BANNER\nbody three"),
        (4, "b.org", "PROMO BANNER\nbody four"),
        (5, "b.org", "body five"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "domain", "text"])
    out = {
        r["doc_id"]: r["text"]
        for r in dedup.corpus_line_dedup(
            df, min_count=3, scope_col="domain"
        ).collect()
    }
    # heavy within a.com (3 hits) -> stripped there only
    assert out[1] == "body one" and out[2] == "body two" and out[3] == "body three"
    # single occurrence on b.org -> untouched
    assert out[4] == "PROMO BANNER\nbody four"
    assert out[5] == "body five"
    # corpus-wide rule (no scope) would strip all four occurrences
    flat = {
        r["doc_id"]: r["text"]
        for r in dedup.corpus_line_dedup(df, min_count=3).collect()
    }
    assert flat[4] == "body four"


def test_corpus_line_dedup_scoped_keep_first(spark):
    rows = [
        (1, "a.com", "PROMO\nbody one"),
        (2, "a.com", "PROMO\nbody two"),
        (3, "a.com", "body three\nPROMO"),
        (4, "b.org", "PROMO\nPROMO\nbody four"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "domain", "text"])
    out = {
        r["doc_id"]: r["text"]
        for r in dedup.corpus_line_dedup(
            df, min_count=2, scope_col="domain", keep_first=True
        ).collect()
    }
    # first occurrence per scope survives: (1, pos 0) for a.com
    assert out[1] == "PROMO\nbody one"
    assert out[2] == "body two"
    assert out[3] == "body three"
    # b.org's own first occurrence survives independently
    assert out[4] == "PROMO\nbody four"


def test_corpus_line_dedup_null_scope_passthrough(spark):
    rows = [
        (1, None, "PROMO\nbody one"),
        (2, None, "PROMO\nbody two"),
        (3, None, "PROMO\nbody three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string, text string")
    out = dedup.corpus_line_dedup(df, min_count=2, scope_col="domain")
    # NULL scope never matches a heavy key -> byte-identical passthrough
    assert sorted(r["text"] for r in out.collect()) == sorted(
        r[2] for r in rows
    )


def test_incremental_minhash_plan_shape(spark):
    """No cartesian product; the new-batch signature frame is persisted so
    its Arrow UDF feeds the cache once instead of once per join branch
    (left bands / right-union bands / ledger-update anti-join)."""
    new = spark.createDataFrame([(i, BASE + str(i)) for i in range(8)],
                                ["doc_id", "text"])
    seen = spark.createDataFrame([(100, OTHER)], ["doc_id", "text"]).select(
        F.col("doc_id").alias("id"), dedup.minhash_udf("text").alias("sig")
    )
    kept, _ = dedup.incremental_minhash_dedup(new, seen, threshold=0.8)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert plan.count("InMemoryTableScan") >= 2


def test_incremental_minhash_collapse_parity(spark):
    """The identical-signature collapse is lossless: an identical-text
    cluster keeps its smallest id, and cross/within-batch near-dups still
    drop."""
    seen_src = spark.createDataFrame([(50, OTHER)], ["doc_id", "text"])
    seen = seen_src.select(
        F.col("doc_id").alias("id"), dedup.minhash_udf("text").alias("sig")
    )
    rows = [(1, BASE), (2, BASE), (3, BASE), (4, NEAR), (5, OTHER),
            (6, "totally fresh standalone content about gardening tips")]
    new = spark.createDataFrame(rows, ["doc_id", "text"])
    kept, _ = dedup.incremental_minhash_dedup(new, seen, threshold=0.8)
    assert _ids(kept) == [1, 6]


def test_incremental_minhash_word_signature(spark):
    """signature_udf switches the shingle universe (word 3-grams)."""
    df = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER)], ["doc_id", "text"]
    )
    # word grams are coarser than char shingles: one changed word costs
    # n of ~24 3-grams, so the one-word-edit pair sits near 0.7
    kept, seen = dedup.incremental_minhash_dedup(
        df, None, threshold=0.6, signature_udf=dedup.word_minhash_udf)
    assert _ids(kept) == [1, 3]


# -- latest-capture URL dedup ---------------------------------------------------

def test_latest_capture(spark):
    rows = [
        ("a", 100, "old a"), ("a", 500, "new a"), ("a", 300, "mid a"),
        ("b", 50, "only b"),
    ]
    df = spark.createDataFrame(rows, "url string, ts long, text string").select(
        "url", F.timestamp_seconds("ts").alias("warc_ts"), "text"
    )
    out = {r["url"]: r["text"]
           for r in dedup.latest_capture(df).collect()}
    assert out == {"a": "new a", "b": "only b"}


def test_latest_capture_tiebreak(spark):
    rows = [("a", 100, "zz"), ("a", 100, "aa"), ("a", 50, "old")]
    df = spark.createDataFrame(rows, "url string, ts long, text string").select(
        "url", F.timestamp_seconds("ts").alias("warc_ts"), "text"
    )
    out = dedup.latest_capture(df, tiebreak_col="text").collect()
    assert len(out) == 1 and out[0]["text"] == "zz"  # (ts, text) lexicographic


def test_latest_capture_preserves_columns(spark):
    df = spark.createDataFrame(
        [("a", 1, "x", "en")], "url string, warc_ts long, text string, lang string"
    )
    out = dedup.latest_capture(df)
    assert out.columns == ["url", "warc_ts", "text", "lang"]


def test_latest_capture_plan_has_no_window(spark):
    df = spark.createDataFrame(
        [("a", 1, "x")], "url string, warc_ts long, text string"
    )
    plan = dedup.latest_capture(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "partial" in plan.lower()


def test_incremental_exact_bucketed_ledger_is_shuffle_free(spark, tmp_path):
    """SCALE.md claim, verified: a ledger stored bucketed by content_hash
    joins with NO Exchange above its scan -- only the (small) new snapshot
    shuffles into the ledger's bucketing."""
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen = spark.range(0, 5000).select(
            F.md5(F.col("id").cast("string")).alias("content_hash"))
        spark.sql("DROP TABLE IF EXISTS test_bucketed_ledger")
        (seen.write.bucketBy(8, "content_hash").sortBy("content_hash")
             .mode("overwrite").saveAsTable("test_bucketed_ledger"))
        ledger = spark.table("test_bucketed_ledger")
        new = spark.range(5000, 6000).select(
            F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text"))
        kept, _ = dedup.incremental_exact_dedup(new, ledger)
        plan = kept._jdf.queryExecution().executedPlan().toString()
        scan_line = next(ln for ln in plan.splitlines()
                         if "test_bucketed_ledger" in ln and "Scan" in ln)
        assert "Bucketed: true" in scan_line
        # no Exchange on the ledger branch: walk the scan's ancestor chain
        # up to the anti-join (indentation strictly decreasing in the plan
        # tree rendering) and require every ancestor to be exchange-free
        lines = plan.splitlines()
        scan_idx = lines.index(scan_line)
        join_idx = max(i for i, ln in enumerate(lines[:scan_idx])
                       if "LeftAnti" in ln)
        indent = len(scan_line) - len(scan_line.lstrip())
        i = scan_idx - 1
        while i > join_idx:
            ln = lines[i]
            cur = len(ln) - len(ln.lstrip())
            if cur < indent:
                assert "Exchange" not in ln, ln
                indent = cur
            i -= 1
    finally:
        spark.sql("DROP TABLE IF EXISTS test_bucketed_ledger")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)


# -- adversarial inputs over the session's new operators -------------------------

def test_new_ops_survive_null_and_empty_text(spark):
    """NULL/empty text must never throw and must behave by the documented
    rule: null hashes can't cross-match a ledger; null text diffs as empty."""
    from wikisource_latin_text_cleaner_spark.operators.textstats import (
        snapshot_diff,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, None), (4, "real")],
        "doc_id long, text string",
    )
    kept, seen = dedup.incremental_exact_dedup(df, None)
    # the two NULL-text docs share the null group -> smallest id survives
    assert _ids(kept) == [1, 2, 4]
    # minhash: None maps to the empty-string signature -> 1 and 3 collapse,
    # and "" shares that signature too (empty shingle universe)
    mkept, _ = dedup.incremental_minhash_dedup(df, None, threshold=0.8)
    assert _ids(mkept) == [1, 4]
    # snapshot_diff: a url whose text is NULL on both sides is unchanged
    old = spark.createDataFrame([("u1", None), ("u2", "x")],
                                "url string, text string")
    new = spark.createDataFrame([("u1", None), ("u2", None)],
                                "url string, text string")
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {"u1": "unchanged", "u2": "changed"}


def test_domain_gate_null_scores_do_not_throw(spark):
    from wikisource_latin_text_cleaner_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "d", None), (2, "d", 1.0), (3, "d", 1.0)],
        "doc_id long, domain string, score double",
    )
    # avg ignores NULL scores; min_docs counts rows
    kept = sampling.domain_quality_gate(df, "score", "domain",
                                        min_mean=0.5, min_docs=3)
    assert kept.count() == 3


def test_corpus_line_dedup_scoped_python_twin(spark):
    """Scoped rule vs an independent pure-Python twin over a mixed fixture
    (several domains, shared lines, blanks, keep_first both ways)."""
    import itertools
    from collections import Counter

    rows = []
    doms = ["a.com", "b.org", "c.net"]
    lines_pool = ["PROMO", "body %d", "All rights reserved.", "", "  ",
                  "unique %d %s"]
    n = 0
    for d, i in itertools.product(doms, range(4)):
        n += 1
        text = "\n".join([
            "PROMO" if i % 2 == 0 else f"body {i}",
            "All rights reserved.",
            "" if i % 3 == 0 else f"unique {n} {d}",
            f"tail {d}" if i < 2 else "tail shared",
        ])
        rows.append((n, d, text))
    df = spark.createDataFrame(rows, ["doc_id", "domain", "text"])

    def py_twin(rows, min_count, keep_first):
        cnt = Counter()
        for _id, d, t in rows:
            for ln in t.split("\n"):
                if ln.strip() != "":
                    cnt[(d, ln)] += 1
        heavy = {k for k, c in cnt.items() if c >= min_count}
        first = {}
        if keep_first:
            for _id, d, t in sorted(rows):
                for pos, ln in enumerate(t.split("\n")):
                    key = (d, ln)
                    if key in heavy and key not in first:
                        first[key] = (_id, pos)
                    elif key in heavy and (_id, pos) < first[key]:
                        first[key] = (_id, pos)
        out = {}
        for _id, d, t in rows:
            kept = []
            for pos, ln in enumerate(t.split("\n")):
                key = (d, ln)
                if ln.strip() != "" and key in heavy:
                    if keep_first and first.get(key) == (_id, pos):
                        kept.append(ln)
                    continue
                kept.append(ln)
            out[_id] = "\n".join(kept)
        return out

    for min_count, keep_first in [(2, False), (2, True), (3, False)]:
        got = {
            r["doc_id"]: r["text"]
            for r in dedup.corpus_line_dedup(
                df, min_count=min_count, keep_first=keep_first,
                scope_col="domain",
            ).collect()
        }
        assert got == py_twin(rows, min_count, keep_first), (
            min_count, keep_first)


# -- N-snapshot chain batch-equivalence ---------------------------------------

_CHAIN_WORDS = (
    "amber birch cedar delta ember fjord grove haven ivory jade kelp lunar "
    "maple night ocean pearl quartz river stone tidal umber vapor willow "
    "zephyr arbor"
).split()


def _chain_corpus(seed=20260818, n_clusters=8, variants=3, n_unique=16):
    """Planted corpus: ``n_clusters`` near-dup cliques (each variant changes
    ONE word of a 26-word base by one char -- pairwise char-shingle jaccard
    ~0.9, far above the 0.8 threshold) plus ``n_unique`` mutually-far docs.
    Returns (rows, cluster_of_text) with ids shuffled across clusters."""
    import random

    rng = random.Random(seed)
    texts, cluster_of = [], {}
    for c in range(n_clusters):
        base = _CHAIN_WORDS[:]
        rng.shuffle(base)
        for v in range(variants):
            words = base[:]
            words[5 + v] = words[5 + v] + "x"
            t = f"cluster {c} reads " + " ".join(words)
            texts.append(t)
            cluster_of[t] = c
    for u in range(n_unique):
        words = rng.sample(_CHAIN_WORDS, 12)
        t = f"unique {u} {seed} " + " ".join(f"{w}{u}{i}" for i, w in enumerate(words))
        texts.append(t)
        cluster_of[t] = f"u{u}"
    rng.shuffle(texts)
    rows = [(i, t) for i, t in enumerate(texts)]
    return rows, cluster_of


def _survivor_clusters(df, cluster_of):
    from collections import Counter

    return Counter(cluster_of[r["text"]] for r in df.select("text").collect())


def test_incremental_exact_three_snapshot_chain_equals_batch(spark):
    """Splitting a corpus into 3 snapshots and chaining
    incremental_exact_dedup must keep exactly the batch-dedup TEXT set
    (ids may differ: batch keeps the global min id, the chain keeps the
    min id of the earliest snapshot), and the final ledger must hold one
    hash per distinct text."""
    import random

    rows, _ = _chain_corpus()
    # make exact duplicates by repeating half the texts with new ids
    dup_rows = [(1000 + i, t) for i, (_, t) in enumerate(rows[::2])]
    allrows = rows + dup_rows
    rng = random.Random(7)
    rng.shuffle(allrows)
    cuts = [len(allrows) // 3, 2 * len(allrows) // 3]
    snaps = [allrows[: cuts[0]], allrows[cuts[0]: cuts[1]], allrows[cuts[1]:]]

    full = spark.createDataFrame(allrows, ["doc_id", "text"])
    batch_kept, batch_seen = dedup.incremental_exact_dedup(full, None)
    batch_texts = {r["text"] for r in batch_kept.collect()}

    seen = None
    chain_texts = set()
    for snap in snaps:
        df = spark.createDataFrame(snap, ["doc_id", "text"])
        kept, seen = dedup.incremental_exact_dedup(df, seen)
        new_texts = {r["text"] for r in kept.collect()}
        assert not (new_texts & chain_texts), "chain re-admitted a duplicate"
        chain_texts |= new_texts

    assert chain_texts == batch_texts == {t for _, t in allrows}
    assert seen.count() == len(chain_texts) == batch_seen.count()


def test_incremental_minhash_three_snapshot_chain_equals_batch(spark):
    """Chaining incremental_minhash_dedup over 3 snapshots must agree with
    batch minhash_dedup on the whole corpus at the cluster level: exactly
    one survivor per planted near-dup clique, every unique doc kept -- the
    batch-equivalence property after N increments."""
    import random

    rows, cluster_of = _chain_corpus()
    rng = random.Random(13)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    cuts = [len(shuffled) // 3, 2 * len(shuffled) // 3]
    snaps = [shuffled[: cuts[0]], shuffled[cuts[0]: cuts[1]],
             shuffled[cuts[1]:]]

    full = spark.createDataFrame(rows, ["doc_id", "text"])
    batch = _survivor_clusters(
        dedup.minhash_dedup(full, threshold=0.8), cluster_of
    )

    seen = None
    chain_rows = []
    for snap in snaps:
        df = spark.createDataFrame(snap, ["doc_id", "text"])
        kept, seen = dedup.incremental_minhash_dedup(df, seen, threshold=0.8)
        chain_rows.extend(kept.select("text").collect())
    from collections import Counter

    chain = Counter(cluster_of[r["text"]] for r in chain_rows)

    n_clusters = len({c for c in cluster_of.values() if isinstance(c, int)})
    for counts, label in ((batch, "batch"), (chain, "chain")):
        for c in range(n_clusters):
            assert counts[c] == 1, (label, c, counts)
        for key, n in counts.items():
            if isinstance(key, str):
                assert n == 1, (label, key)
    assert sum(batch.values()) == sum(chain.values())
