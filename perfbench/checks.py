"""Correctness checks on the program's outputs. Each returns a list of
problems; an empty list means the check passed. They take plain Python
values so ``test_checks.py`` can plant wrong outputs without Spark."""

from __future__ import annotations

from corpus import table_digest


FIELDS = ("keep", "drop_reasons", "clean_text")


def _norm(v: tuple) -> tuple:
    keep, reasons, text = v
    return bool(keep), list(reasons), text


def filter_output(got: dict, want: dict) -> list[str]:
    """``got`` and ``want`` map url -> (keep, drop_reasons, clean_text)."""
    problems = []
    if got.keys() != want.keys():
        problems.append(f"url set differs: {len(got.keys() - want.keys())} extra, "
                        f"{len(want.keys() - got.keys())} missing")
    for url in sorted(got.keys() & want.keys()):
        g, w = _norm(got[url]), _norm(want[url])
        if g != w:
            field, a, b = next(d for d in zip(FIELDS, g, w) if d[1] != d[2])
            problems.append(f"{url}: {field} {a!r:.60} != reference {b!r:.60}")
            if len(problems) >= 5:
                break
    return problems


def resume_output(got: dict, want_digest: str, docs_processed: int,
                  lost_rows: int) -> list[str]:
    problems = []
    digest = table_digest(got)
    if digest != want_digest:
        problems.append(f"resumed table digest {digest[:12]} != full run {want_digest[:12]}")
    if docs_processed != lost_rows:
        problems.append(f"docs_processed {docs_processed} != {lost_rows} rows in lost buckets")
    return problems


def near_dup_output(survivors: set, planted: set, first: set | None) -> list[str]:
    problems = []
    kept_copies = survivors & planted
    if kept_copies:
        problems.append(f"{len(kept_copies)} planted copies survived, e.g. "
                        f"{sorted(kept_copies)[:3]}")
    if first is not None and survivors != first:
        problems.append(f"survivor set changed between calls: "
                        f"{len(survivors ^ first)} ids differ")
    return problems


def cache_released(cached_mb: float) -> list[str]:
    return [] if cached_mb == 0 else [f"{cached_mb:.3f} MB still cached after release"]


def package_digest(worker: str, tree: str) -> list[str]:
    return [] if worker == tree else [
        f"workers import package digest {worker[:12]}, working tree is {tree[:12]}"]
