"""The measurement tooling beside the package: the headline query lists stay
in step, perfbench's traced names exist, every script compiles, nothing but
the tests imports the test tree, and the scale probe parses its arguments
before it builds a session."""

import ast
import glob
import importlib
import os
import py_compile
import re
import subprocess
import sys

import pytest

from action_pdf_accessibility_paddle_docker_spark.plans.queries import (
    HEADLINE,
    REGISTRY,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perfbench_list(filename: str, name: str):
    # perfbench is a directory of scripts, not a package: read from source
    with open(os.path.join(REPO, "perfbench", filename)) as f:
        tree = ast.parse(f.read())
    return next(
        ast.literal_eval(node.value) for node in tree.body
        if isinstance(node, ast.Assign)
        and [getattr(t, "id", None) for t in node.targets] == [name]
    )


def test_perfbench_queries_are_the_headline_plus_dedup_clusters():
    queries = _perfbench_list("workloads.py", "QUERIES")
    assert queries == list(HEADLINE) + ["q_dedup_clusters"]
    assert set(queries) <= set(REGISTRY)


@pytest.mark.parametrize("table", ["KERNEL", "DRIVER"])
def test_perfbench_traced_names_resolve(table):
    """A traced run patches each (module, attr) and crashes on a missing one;
    a rename must fail here instead."""
    targets = _perfbench_list("tracing.py", table)
    assert targets
    for module, attr in targets:
        owner = importlib.import_module(
            f"action_pdf_accessibility_paddle_docker_spark.{module}")
        for part in attr.split("."):
            owner = getattr(owner, part, None)
            assert owner is not None, (module, attr)
        assert callable(owner), (module, attr)


def test_stub_detector_runs_the_traced_batch_hook():
    from action_pdf_accessibility_paddle_docker_spark.operators.detector import (
        BatchHooks,
        StubDetector,
    )

    assert ("operators.detector", "BatchHooks.detect_pages") in _perfbench_list(
        "tracing.py", "KERNEL")
    assert StubDetector.detect_pages is BatchHooks.detect_pages


@pytest.mark.parametrize("path", sorted(
    os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "scripts", "*.py"))
) + ["bench.py", "__spark_entry__.py"])
def test_tooling_compiles(path, tmp_path):
    py_compile.compile(os.path.join(REPO, path),
                       cfile=str(tmp_path / "out.pyc"), doraise=True)


# perfbench/checks.py still reaches the comparator through tests/; the next
# change to the benchmark imports oracle.compare and empties this set.
TESTS_IMPORTERS = {"perfbench/checks.py"}


def _imports_tests(path: str) -> bool:
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [node.module]
        else:
            continue
        if any(n == "tests" or n.startswith("tests.") for n in names):
            return True
    return False


def test_only_the_tests_import_the_test_tree():
    paths = [
        p for pattern in ("action_pdf_accessibility_paddle_docker_spark/**/*.py",
                          "jobs/*.py", "scripts/*.py", "perfbench/*.py",
                          "bench.py", "__spark_entry__.py")
        for p in glob.glob(os.path.join(REPO, pattern), recursive=True)
    ]
    assert len(paths) > 50
    importers = {os.path.relpath(p, REPO) for p in paths if _imports_tests(p)}
    assert importers == TESTS_IMPORTERS


def test_scale_probe_help_lists_targets_without_a_session():
    r = subprocess.run(
        [sys.executable, "-X", "importtime",
         os.path.join(REPO, "scripts", "scale_probe.py"), "--help"],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert "pyspark" not in r.stderr  # the import log: no session was built
    assert "{dupline,queries,semdedup,spandedup}" in r.stdout
    assert "--replicate" in r.stdout


# The jobs' option sets besides --help, pinned: a new knob must edit this
# list visibly (corpus_job: 50).
JOB_OPTIONS = {
    "corpus_job.py": [
        "--input", "--output", "--stages", "--id-col", "--text-col",
        "--url-col", "--url-keep", "--blocked-domains", "--min-kept-lines",
        "--line-min-chars", "--linededup-unit", "--span-k", "--state",
        "--cap-by-domain", "--shuffle-output", "--clf-weights",
        "--clf-threshold", "--clf-top-frac", "--fps-table", "--fps-method",
        "--fps-key", "--rate", "--mix-temperature", "--mix-keep-frac",
        "--default-rate", "--stratum-col", "--cap-per-source",
        "--partition-output-by", "--output-files", "--embeddings",
        "--embedding-col", "--embedding-id-col", "--semdedup-threshold",
        "--semdedup-clusters", "--semdedup-cap", "--benchmark",
        "--benchmark-id-col", "--benchmark-text-col", "--decontam-overlap",
        "--lsh-threshold", "--report", "--report-domains",
        "--report-exact-dup", "--resumable", "--buckets", "--bucket-batch",
        "--streaming", "--checkpoint", "--ts-col", "--dedup-horizon",
    ],
    "extract_job.py": [
        "--input", "--output", "--resumable", "--buckets", "--bucket-batch",
        "--streaming", "--checkpoint", "--salt", "--no-order", "--template",
        "--format", "--iceberg-table", "--threshold", "--detector", "--model",
        "--model-dir", "--infer-batch-size", "--plan-chunk-pages",
        "--tag-tree", "--debug-images", "--dump-config", "--mathml-images",
    ],
}


@pytest.mark.parametrize("job", sorted(JOB_OPTIONS))
def test_job_option_set_is_pinned(job):
    """``--help`` lists exactly the pinned options and starts no Spark
    session (corpus_job imports pyspark for its operators, so only the
    session is ruled out)."""
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", job), "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert "log4j" not in r.stderr and "SparkContext" not in r.stderr
    listed = re.findall(r"^  (?:-h, )?(--[\w-]+)", r.stdout, re.M)
    assert listed[0] == "--help"
    assert sorted(listed[1:]) == sorted(JOB_OPTIONS[job])
