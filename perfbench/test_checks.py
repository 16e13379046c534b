"""Self-test of the benchmark's correctness checks, where a planted wrong
output must make the matching check fail, and of its bucket-aware input
generator. Needs no Spark:

    python3 -m pytest perfbench/test_checks.py -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import corpus  # noqa: E402

WANT = {
    "https://a.example/1": (True, [], "Gallia est omnis divisa in partes tres."),
    "https://a.example/2": (False, ["min_size"], None),
    "https://a.example/3": (False, ["langid"], "the quick brown fox"),
}


def test_filter_output_accepts_reference():
    assert checks.filter_output(dict(WANT), WANT) == []


def test_flipped_keep_fails():
    got = dict(WANT)
    keep, reasons, text = got["https://a.example/1"]
    got["https://a.example/1"] = (not keep, reasons, text)
    assert any("keep" in p for p in checks.filter_output(got, WANT))


def test_altered_clean_text_fails():
    got = dict(WANT)
    keep, reasons, text = got["https://a.example/3"]
    got["https://a.example/3"] = (keep, reasons, text + " ")
    assert any("clean_text" in p for p in checks.filter_output(got, WANT))


def test_missing_row_fails():
    got = dict(WANT)
    del got["https://a.example/2"]
    assert checks.filter_output(got, WANT)


def test_resume_digest_and_count():
    digest = corpus.table_digest(WANT)
    assert checks.resume_output(dict(WANT), digest, 2, 2) == []
    assert checks.resume_output(dict(WANT), digest, 3, 2)
    got = dict(WANT)
    got["https://a.example/2"] = (False, ["index_toc"], None)
    assert checks.resume_output(got, digest, 2, 2)


def test_surviving_planted_copy_fails():
    planted = {10, 11}
    assert checks.near_dup_output({1, 2, 3}, planted, None) == []
    assert checks.near_dup_output({1, 2, 3, 11}, planted, None)


def test_changed_survivor_set_fails():
    assert checks.near_dup_output({1, 2}, set(), {1, 2}) == []
    assert checks.near_dup_output({1, 3}, set(), {1, 2})


def test_cache_and_package_checks():
    assert checks.cache_released(0.0) == []
    assert checks.cache_released(0.5)
    assert checks.package_digest("ab" * 32, "ab" * 32) == []
    assert checks.package_digest("ab" * 32, "cd" * 32)


def test_bucket_of_matches_spark():
    # pmod(xxhash64(url), n) as Spark computes it
    for url, b16, b13 in (
        ("", 4, 1),
        ("https://la.wikisource.org/wiki/Aeneis_7", 2, 9),
        ("https://example.org/wiki/de_bello_gallico_liber_primus_1234", 9, 6),
    ):
        assert corpus.bucket_of(url, 16) == b16
        assert corpus.bucket_of(url, 13) == b13


def test_filter_pages_loses_the_same_share_for_every_seed():
    for seed in (1, 2):
        rows = corpus.filter_pages(160, seed, 16, (14, 15))
        assert len({r.url for r in rows}) == 160
        assert sum(corpus.bucket_of(r.url, 16) in (14, 15) for r in rows) == 20
