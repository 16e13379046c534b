"""North-rule resumability: SIGKILL the driver mid-run, resume, and the
final table must be identical to an uninterrupted run."""

import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spawn(args):
    return subprocess.Popen(
        [sys.executable, os.path.join(REPO, "driver.py"), *args],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=REPO,
    )


def test_resume_with_uncommitted_manifest_dir_recomputes(tmp_path):
    """A crash during the very first manifest write leaves _checkpoints/
    holding only a _temporary dir; --resume must treat that as 'nothing
    complete' and recompute, not die on schema inference."""
    from wikisource_latin_text_cleaner_spark.plans import checkpoints

    out = tmp_path / "out"
    (out / "_checkpoints" / "_temporary").mkdir(parents=True)
    assert checkpoints.completed_buckets(str(out), 8) == set()


def test_sigkill_mid_run_then_resume_matches_clean_run(spark, tmp_path):
    from wikisource_latin_text_cleaner_spark.sources import synth

    inp = str(tmp_path / "pages.parquet")
    synth.write_pages_parquet(inp, 1200, seed=77)

    def common(out):
        return ["--input", inp, "--output", out, "--mode", "web",
                "--buckets", "8", "--resume", "--master", "local[4]",
                "--no-classify"]

    # clean run
    clean_out = str(tmp_path / "clean")
    p = _spawn(common(clean_out))
    line = [ln for ln in p.communicate(timeout=300)[0].splitlines() if ln.startswith("{")][-1]
    clean_stats = json.loads(line)
    assert p.returncode == 0

    # killed run: SIGKILL in the window where the data write has started
    # but the checkpoint manifest is not yet committed -- watching the
    # output dirs instead of sleeping a fixed 25s keeps the kill mid-run on
    # slow AND fast boxes (a late kill after the manifest write makes
    # resume legitimately find nothing to do). If the process beat the
    # kill, the test still validates resume-on-complete (buckets_run==0).
    kill_out = str(tmp_path / "killed")
    p = _spawn(common(kill_out))
    ckpt = os.path.join(kill_out, "_checkpoints")
    data = os.path.join(kill_out, "data")
    killed = False
    deadline = time.time() + 240
    while time.time() < deadline and p.poll() is None:
        if os.path.isdir(data) and not os.path.isdir(ckpt):
            try:
                p.send_signal(signal.SIGKILL)
                killed = True
            except ProcessLookupError:
                pass
            break
        time.sleep(0.2)
    p.wait(timeout=120)

    # resume
    p = _spawn(common(kill_out))
    line = [ln for ln in p.communicate(timeout=300)[0].splitlines() if ln.startswith("{")][-1]
    resumed_stats = json.loads(line)
    assert p.returncode == 0
    if killed:
        assert resumed_stats["buckets_run"] > 0  # something was left to do

    # identical final content per url
    a = spark.read.parquet(os.path.join(clean_out, "data"))
    b = spark.read.parquet(os.path.join(kill_out, "data"))
    sa = {(r.url, r.keep, r.clean_text) for r in a.select("url", "keep", "clean_text").collect()}
    sb = {(r.url, r.keep, r.clean_text) for r in b.select("url", "keep", "clean_text").collect()}
    assert sa == sb
    assert resumed_stats["docs_kept"] == clean_stats["docs_kept"]
