"""jobs/extract_job.py command line: flags the chosen mode would ignore are
refused before any session starts, and streaming runs the detector it is
given."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "extract_job.py")


def _run(argv, timeout=60, **kw):
    return subprocess.run(
        [sys.executable, *argv], capture_output=True, text=True,
        timeout=timeout, cwd=REPO, **kw,
    )


@pytest.mark.parametrize("argv, message", [
    (["--resumable", "--salt", "8"], "--resumable ignores --salt"),
    (["--resumable", "--no-order"], "--resumable ignores --no-order"),
    (["--resumable", "--buckets", "2", "--template"], "--resumable ignores --template"),
    (["--resumable", "--tag-tree"], "--resumable ignores --tag-tree"),
    (["--resumable", "--debug-images"], "--resumable ignores --debug-images"),
    (["--resumable", "--format", "iceberg"], "--resumable ignores --format iceberg"),
    (["--streaming", "--checkpoint", "ck", "--no-order", "--salt", "4"],
     "--streaming ignores --salt, --no-order"),
    (["--streaming", "--checkpoint", "ck", "--template"], "--streaming ignores --template"),
    (["--streaming", "--checkpoint", "ck", "--format", "iceberg"],
     "--streaming ignores --format iceberg"),
    (["--streaming", "--checkpoint", "ck", "--resumable", "--buckets", "3"],
     "--streaming ignores --resumable"),
    (["--streaming"], "--streaming requires --checkpoint"),
    (["--iceberg-table", "cat.db.t"], "--iceberg-table requires --resumable"),
    (["--salt", "8"], "--salt requires --no-order"),
])
def test_ignored_flags_exit_2_without_a_session(argv, message):
    r = _run(["-X", "importtime", JOB, "--input", "in", "--output", "out", *argv])
    assert r.returncode == 2, r.stderr[-500:]
    assert message in r.stderr
    assert "pyspark" not in r.stderr  # the import log: no session was built


def test_streaming_runs_the_requested_detector(tmp_path):
    """--detector paddlex in streaming mode must fail like the batch mode
    does where the paddlex runtime is absent, not quietly run the stub."""
    pytest.importorskip("pyspark")
    try:
        import paddlex  # noqa: F401
        pytest.skip("paddlex runtime installed")
    except ImportError:
        pass
    from action_pdf_accessibility_paddle_docker_spark.sources.transcripts import (
        write_transcripts_parquet,
    )

    src = tmp_path / "in"
    write_transcripts_parquet(str(src), n_convs=3, median_turns=3, seed=5)
    r = _run(
        [JOB, "--input", str(src), "--output", str(tmp_path / "out"),
         "--streaming", "--checkpoint", str(tmp_path / "ck"),
         "--detector", "paddlex"],
        timeout=300,
        env={**os.environ,
             "PYTHONPATH": os.pathsep.join([REPO, os.environ.get("PYTHONPATH", "")])},
    )
    assert r.returncode != 0, r.stdout[-500:]
    assert "paddlex" in r.stderr
