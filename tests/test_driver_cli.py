"""driver.py CLI end-to-end: run, resume, output/metrics layout."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "driver.py"), *args],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def test_driver_run_and_resume(tmp_path):
    from wikisource_latin_text_cleaner_spark.sources import synth

    inp = str(tmp_path / "pages.parquet")
    synth.write_pages_parquet(inp, 300, seed=21)
    outd = str(tmp_path / "out")
    common = ["--input", inp, "--output", outd, "--mode", "web",
              "--buckets", "4", "--resume", "--master", "local[4]",
              "--no-classify"]

    r1 = _run(common)
    assert r1["docs_in"] == 300
    assert r1["buckets_run"] == 4
    assert r1["docs_kept"] + r1["docs_quarantined"] == 300
    assert os.path.isdir(os.path.join(outd, "data"))
    assert os.path.isdir(os.path.join(outd, "metrics"))

    r2 = _run(common)
    assert r2["buckets_run"] == 0
    assert (r2["docs_kept"], r2["docs_quarantined"]) == (
        r1["docs_kept"], r1["docs_quarantined"])


def test_driver_no_resume_recomputes_and_metrics_not_doubled(tmp_path, spark):
    from wikisource_latin_text_cleaner_spark.sources import synth

    inp = str(tmp_path / "pages.parquet")
    synth.write_pages_parquet(inp, 300, seed=23)
    outd = str(tmp_path / "out")
    base = ["--input", inp, "--output", outd, "--mode", "web",
            "--buckets", "4", "--master", "local[4]", "--no-classify"]

    r1 = _run(base)                      # fresh, no --resume
    assert r1["buckets_run"] == 4
    r2 = _run(base)                      # STILL no --resume: must recompute
    assert r2["buckets_run"] == 4
    assert (r2["docs_kept"], r2["docs_quarantined"]) == (
        r1["docs_kept"], r1["docs_quarantined"])
    r3 = _run([*base, "--resume"])       # resume: nothing to do
    assert r3["buckets_run"] == 0

    m = spark.read.parquet(os.path.join(outd, "metrics"))
    assert "run_ts" in m.columns
    totals = m.where("rule = '_partition_total'")
    # two fresh runs appended metrics; the no-op resume appended none
    assert totals.groupBy().sum("docs_in").collect()[0][0] == 600


def test_driver_partition_by_period_genre(tmp_path, spark):
    """ref step2_sort_by_period_genre.py:487: physical period/genre layout.
    The written table must carry period=/genre= directories under each
    bucket and a period filter must prune partitions at scan time."""
    from wikisource_latin_text_cleaner_spark.sources import synth

    inp = str(tmp_path / "pages.parquet")
    synth.write_pages_parquet(inp, 250, seed=31)
    outd = str(tmp_path / "out")
    r = _run(["--input", inp, "--output", outd, "--mode", "web",
              "--buckets", "4", "--master", "local[4]",
              "--partition-by", "period,genre"])
    assert r["docs_in"] == 250
    data_dir = os.path.join(outd, "data")
    buckets = [d for d in os.listdir(data_dir) if d.startswith("bucket=")]
    assert buckets
    assert any(d.startswith("period=")
               for d in os.listdir(os.path.join(data_dir, buckets[0])))

    df = spark.read.parquet(data_dir)
    assert df.count() == 250
    pruned = df.where("period = 'classical'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "period" in plan.split("PartitionFilters")[1][:200], plan
    assert pruned.count() + df.where("period <> 'classical'").count() == 250


def test_driver_stage_suffix_rerun(tmp_path, spark):
    """ref clean_texts_v2.py:195-211 (--steps suffix re-run): running
    content+headings, then orthography+final over the intermediate output,
    must byte-equal the full composition in one pass."""
    from wikisource_latin_text_cleaner_spark.functions import scrub
    from wikisource_latin_text_cleaner_spark.sources import synth

    inp = str(tmp_path / "pages.parquet")
    synth.write_pages_parquet(inp, 120, seed=37)
    mid, out = str(tmp_path / "mid"), str(tmp_path / "out")
    _run(["--input", inp, "--output", mid, "--buckets", "0",
          "--master", "local[4]", "--stages", "content,headings"])
    r = _run(["--input", os.path.join(mid, "data"), "--output", out,
              "--buckets", "0", "--master", "local[4]",
              "--stages", "orthography,final"])
    assert r["docs_in"] == 120
    got = {r.url: r.text
           for r in spark.read.parquet(os.path.join(out, "data")).collect()}
    src = {r.url: r.text for r in spark.read.parquet(inp).collect()}
    assert got.keys() == src.keys()
    for url, text in src.items():
        assert got[url] == scrub.scrub_document(text or ""), url


def test_driver_flat_mode_output_layout(tmp_path, spark):
    from wikisource_latin_text_cleaner_spark.sources import synth

    inp = str(tmp_path / "pages.parquet")
    synth.write_pages_parquet(inp, 250, seed=29)
    outd = str(tmp_path / "out")
    r = _run(["--input", inp, "--output", outd, "--mode", "web",
              "--buckets", "0", "--master", "local[4]", "--no-classify"])
    assert r["buckets_run"] == -1 and r["docs_in"] == 250
    # data and metrics live side by side; reading data never sees metrics
    data = spark.read.parquet(os.path.join(outd, "data"))
    assert data.count() == 250 and "rule" not in data.columns
    assert spark.read.parquet(os.path.join(outd, "metrics")).count() > 0


def test_driver_url_blocklist(tmp_path):
    """--url-blocklist gates docs through the spark-submit surface. (The
    table-sized form is API-only, a PipelineConfig.url_blocklist
    DataFrame; its parity with the inline list lives in
    tests/test_url_gate.py.)"""
    from wikisource_latin_text_cleaner_spark.sources import synth

    inp = str(tmp_path / "pages.parquet")
    synth.write_pages_parquet(inp, 200, seed=33)
    base = ["--input", inp, "--mode", "web", "--buckets", "2",
            "--master", "local[4]", "--no-classify"]

    plain = _run([*base, "--output", str(tmp_path / "o0")])
    exact = _run([*base, "--output", str(tmp_path / "o1"),
                  "--url-blocklist", "site00.example"])
    assert exact["docs_kept"] < plain["docs_kept"]


def test_comma_list_flags_strip_items():
    """The comma-list flags (--allowed-langs, --url-blocklist,
    --partition-by, --stages) strip each item and drop empty ones: a
    space after a comma must not leave " site03.example", which no
    registrable domain equals, in the blocklist."""
    import driver

    assert driver.comma_list("site00.example, site03.example") == (
        "site00.example", "site03.example")
    assert driver.comma_list(" la ,en,, ") == ("la", "en")
    assert driver.comma_list("period,genre") == ("period", "genre")
    assert driver.comma_list("") == ()
    assert driver.comma_list(None) == ()


def test_driver_drop_noindex(tmp_path):
    """--drop-noindex removes robots-opt-out pages BEFORE the pipeline:
    docs_in shrinks by exactly the planted count and no drop_reason is
    charged for them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikisource_latin_text_cleaner_spark.sources import synth

    inp = str(tmp_path / "pages.parquet")
    synth.write_pages_parquet(inp, 200, seed=29)
    t = pq.read_table(inp)
    html = t.column("html").to_pylist()
    tag = b'<head><meta name="robots" content="noindex"></head>'
    n_opted = 0
    for i in range(0, len(html), 5):
        html[i] = tag + (html[i] or b"")
        n_opted += 1
    t = t.set_column(t.schema.get_field_index("html"),
                     pa.field("html", pa.binary()),
                     pa.array(html, type=pa.binary()))
    pq.write_table(t, inp, row_group_size=64)

    base = ["--input", inp, "--output", str(tmp_path / "out1"), "--mode",
            "web", "--buckets", "2", "--master", "local[4]", "--no-classify"]
    r_all = _run(base)
    assert r_all["docs_in"] == 200
    r_gate = _run([*base[:3], str(tmp_path / "out2"), *base[4:],
                   "--drop-noindex"])
    assert r_gate["docs_in"] == 200 - n_opted
    assert (r_gate["docs_kept"] + r_gate["docs_quarantined"]
            == 200 - n_opted)


def test_pipeline_zip_matches_package_tree():
    """``spark-submit --py-files pipeline.zip`` ships the executors'
    package, so the zip's ``.py`` members must be exactly the package's
    ``.py`` files, byte for byte. Rebuild it after any package edit:
    ``zip -r pipeline.zip wikisource_latin_text_cleaner_spark -x '*__pycache__*'``."""
    import zipfile
    from pathlib import Path

    pkg = Path(REPO) / "wikisource_latin_text_cleaner_spark"
    tree = {
        p.relative_to(REPO).as_posix(): p.read_bytes()
        for p in pkg.rglob("*.py") if "__pycache__" not in p.parts
    }
    with zipfile.ZipFile(os.path.join(REPO, "pipeline.zip")) as z:
        shipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    assert sorted(shipped) == sorted(tree)
    stale = [n for n in tree if shipped[n] != tree[n]]
    assert not stale, f"pipeline.zip is stale for {stale}"
