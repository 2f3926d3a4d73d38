"""Per-partition lineage + counters, and checkpoint-resumable runs.

north_rule: "every stage writes per-partition lineage + counters to enable
checkpoint-resumable restarts".

Design:

* The extraction kernel stamps every row with the executor partition id and
  per-row counters (n_regions, n_artifacts, n_pages, error). ``lineage_metrics``
  reduces those to one row per partition -- a cheap shuffle of tiny rows.
* ``run_bucketed`` is the one exactly-once bucket loop; ``run_resumable``
  (extraction) and ``jobs/corpus_job.run_pipeline_resumable`` (curation)
  call it with their own transform and per-bucket counter aggregates.
* ``run_resumable`` shards the job into ``n_buckets`` conv-hash buckets
  (``pmod(xxhash64(conv_id), n_buckets)``) -- a conversation never straddles
  buckets, so per-bucket (conv_id, turn_idx) ordering gives stable per-conv
  output. ALL pending buckets are written in ONE ``partitionBy("bucket")``
  pass by default (one scan of the input per resume cycle -- the per-batch
  re-filter of an earlier design scanned the full input once per batch).
  ``bucket_batch`` remains as an opt-in recomputation bound: each batch costs
  one additional input scan, the documented tradeoff.
* Per-bucket counters are DERIVED per bucket: after the data write commits,
  the just-written (partition-pruned, column-pruned) output is aggregated
  ``groupBy(bucket)`` and each bucket's lineage JSON carries its own
  counters, not batch-level copies.
* A bucket's lineage record is committed (atomic create+rename through the
  Hadoop FileSystem API, so HDFS/S3/cloud output roots work, not just the
  driver's local disk) only AFTER its data write commits. A restart lists the
  lineage dir and skips completed buckets: exactly-once per bucket despite
  crashes between batches.
* ``StateStore`` is the cross-run state of the incremental curation stages
  (``jobs/corpus_job.py --state``): one versioned appendix per run, each
  committed by the same atomic record write after the run's output lands.

At 100 TB / 1000 executors the bucket count is the resume granularity knob;
recomputation after a crash is bounded by one batch (default: the whole
pending set -- size batches only if crash-recomputation cost matters more
than scan count).

Documented residual (single-writer assumption): nothing FENCES two drivers
resuming the same output root concurrently -- a stalled-but-alive driver A
and a replacement driver B can interleave dynamic-overwrite commits on the
same bucket dirs, leaving data that does not match the committed lineage.
A robust fence needs storage-level conditional writes (HDFS lease /
S3 conditional PUT); a plain lock file cannot distinguish a crashed holder
from a stalled one without a heartbeat protocol. Run one resuming driver
per output root (the same rule every dynamic-overwrite pipeline has).
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .extraction import build_extraction, empty_row_counters, row_counters


def lineage_metrics(extracted: DataFrame) -> DataFrame:
    """Reduce kernel-stamped rows to one lineage row per executor partition."""
    return extracted.groupBy("part_id").agg(*row_counters().values())


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


# ---------------------------------------------------------------------------
# Lineage records via the Hadoop FileSystem API (works for file://, hdfs://,
# s3a://, ... -- driver-local os.* would silently see an empty dir on a
# cluster with a remote output root).
# ---------------------------------------------------------------------------


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _lineage_dir(output_root: str) -> str:
    return output_root.rstrip("/") + "/_lineage"


#: a real lineage record is always bucket_<int>.json by construction, and
#: a state-store commit record _commits/<int>.json
_BUCKET_FILE_RE = re.compile(r"^bucket_(\d+)\.json$")
_COMMIT_FILE_RE = re.compile(r"^(\d+)\.json$")


def _active_spark() -> SparkSession:
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession for lineage filesystem access")
    return spark


def _records(spark: SparkSession, d: str, name_re) -> dict:
    """``{n: Hadoop path}`` of the files in ``d`` named by ``name_re``'s
    integer group. The match is strict: debris like 'bucket_3 (1).json'
    (editor save-as, object-store copy tools) must be IGNORED, not crash
    int() and brick every subsequent resume."""
    fs, dpath, _jvm = _fs_and_path(spark, d)
    if not fs.exists(dpath):
        return {}
    return {int(m.group(1)): st.getPath() for st in fs.listStatus(dpath)
            if (m := name_re.match(st.getPath().getName()))}


def completed_buckets(output_root: str, spark: SparkSession | None = None) -> set[int]:
    return set(_records(spark or _active_spark(), _lineage_dir(output_root),
                        _BUCKET_FILE_RE))


def _read_json(spark: SparkSession, path) -> dict:
    """One JSON record through the Hadoop FileSystem API (``path`` is a
    string or a Hadoop Path)."""
    fs, hpath, jvm = _fs_and_path(spark, str(path))
    stream = fs.open(hpath)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _write_json(spark: SparkSession, path: str, record: dict,
                sort_keys: bool = False) -> None:
    """Commit one JSON record atomically: write ``.<name>.tmp`` beside it,
    then rename over any previous version (the lineage, run-config and
    state-store commit records all land this way)."""
    d, name = path.rstrip("/").rsplit("/", 1)
    fs, dpath, jvm = _fs_and_path(spark, d)
    fs.mkdirs(dpath)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{d}/.{name}.tmp")
    final = jvm.org.apache.hadoop.fs.Path(path)
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(
            json.dumps(record, sort_keys=sort_keys).encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(final):
        fs.delete(final, False)
    # Hadoop FileSystem.rename reports failure by RETURNING false, not by
    # raising; ignoring it would leave the record uncommitted while the run
    # proceeds -- unbounded re-extraction on every future resume
    if not fs.rename(tmp, final):
        raise IOError(f"commit rename failed: {tmp} -> {final}")


def read_lineage(output_root: str, spark: SparkSession | None = None) -> dict[int, dict]:
    """All committed per-bucket lineage records."""
    spark = spark or _active_spark()
    return {b: _read_json(spark, path) for b, path in _records(
        spark, _lineage_dir(output_root), _BUCKET_FILE_RE).items()}


def _commit_lineage(
    output_root: str, bucket: int, record: dict, spark: SparkSession | None = None
) -> None:
    _write_json(spark or _active_spark(),
                f"{_lineage_dir(output_root)}/bucket_{bucket}.json", record)


def ensure_run_config(
    output_root: str, config: dict, spark: SparkSession | None = None
) -> None:
    """Pin the parameters that define what a bucket index MEANS across
    resume cycles. Lineage records carry only bucket indices, so resuming
    with a different ``--buckets``, stage set, or bucket-key kind would
    silently skip the WRONG buckets and leave stale partitions from the
    old keying in <output>/data (dynamic overwrite never clears dirs it
    does not write) -- duplicated or missing rows with no error.

    First run commits ``config`` atomically to
    ``<output>/_lineage/run_config.json``; every later run must present an
    EQUAL dict or this raises with both versions. Call before reading
    ``completed_buckets``.

    The comparison is JSON-CANONICAL: the stored config went through a JSON
    round trip (int dict keys become strings, tuples become lists), so the
    current invocation's dict is normalized the same way first -- otherwise
    an IDENTICAL rerun whose thresholds use int keys would spuriously
    mismatch (caught live driving extract_job --resumable)."""
    config = json.loads(json.dumps(config, sort_keys=True))
    spark = spark or _active_spark()
    d = _lineage_dir(output_root)
    fs, final, _jvm = _fs_and_path(spark, f"{d}/run_config.json")
    if fs.exists(final):
        stored = _read_json(spark, final)
        if stored != config:
            raise ValueError(
                "resume configuration mismatch: this output was started "
                f"with {stored!r} but the current invocation is "
                f"{config!r}; resume with the original parameters or use "
                "a fresh output path"
            )
        return
    # No pinned config but bucket records exist: a pre-pinning (or
    # sabotaged) output. Adopting the CURRENT invocation's config would
    # bless exactly the mis-keyed resume this guard exists to block (a
    # --buckets 8 resume of a --buckets 4 output would commit 8 as truth,
    # skip buckets 0-3 under the NEW keying, and leave the old pmod-4
    # partitions in place -- silent duplicates). Refuse; migration is the
    # user writing the ORIGINAL parameters to run_config.json by hand.
    pre_existing = completed_buckets(output_root, spark)
    if pre_existing:
        raise ValueError(
            f"output {output_root!r} carries {len(pre_existing)} committed "
            "bucket records but no run_config.json (written before "
            "run-config pinning, or the pin was deleted); resuming cannot "
            "verify the bucket keying. Either restart with a fresh output "
            "path, or -- if the original parameters are known -- write "
            f"them to {d}/run_config.json "
            f"(this invocation would have pinned {config!r})"
        )
    _write_json(spark, f"{d}/run_config.json", config, sort_keys=True)


def _delete_bucket_dirs(
    spark: SparkSession, data_root: str, buckets: list[int]
) -> None:
    """Remove the Hive partition dirs of PENDING buckets before their batch
    rewrite (see the call site). No-op for dirs that do not exist."""
    fs, root, jvm = _fs_and_path(spark, data_root)
    for b in buckets:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                data_root.rstrip("/") + f"/bucket={int(b)}"
            ),
            True,
        )


def _per_bucket_counters(
    spark: SparkSession, data_root: str, buckets: list[int], counters: dict,
    is_table: bool = False,
) -> dict[int, dict]:
    """Aggregate the just-written output per bucket (partition-pruned read of
    tiny columns -- NOT a re-execution of the batch's plan). ``counters``
    maps each record field to its aggregate Column. When every row of the
    batch was dropped upstream the data root may not exist at all (dynamic
    overwrite writes no dirs): that ONE case returns {} so the zero-row
    lineage records still commit and resume skips -- any OTHER read failure
    (transient storage error) propagates, because committing rows=0 over
    intact data would corrupt the lineage metadata permanently."""
    from pyspark.errors import AnalysisException

    try:
        src = (spark.read.table(data_root) if is_table
               else spark.read.parquet(data_root))
    except AnalysisException:
        return {}
    df = (
        src
        .where(F.col("bucket").isin([int(b) for b in buckets]))
        .groupBy("bucket")
        .agg(*[c.alias(k) for k, c in counters.items()])
    )
    out: dict[int, dict] = {}
    for r in df.collect():
        d = r.asDict()
        b = int(d.pop("bucket"))
        out[b] = {k: (int(v) if isinstance(v, int) else v) for k, v in d.items()}
    return out


def run_bucketed(
    spark: SparkSession,
    output_root: str,
    config: dict,
    part: DataFrame,
    n_buckets: int,
    transform,
    counters: dict,
    empty: dict,
    *,
    cluster_by: tuple = (),
    sort_by: tuple = (),
    bucket_batch: int | None = None,
    fail_after_batches: int | None = None,
    iceberg_table: str | None = None,
    totals: tuple = (),
) -> dict:
    """The exactly-once bucket loop every resumable pipeline shares.

    ``part`` carries an int ``bucket`` column in ``[0, n_buckets)``. After
    pinning ``config`` and listing the committed buckets, each batch of
    pending buckets (``bucket_batch`` per batch; default all, one input
    scan) goes through ``transform(rows, batch) -> (frame, Observation or
    None)``, is hash partitioned on ``("bucket", *cluster_by)`` (sorted by
    ``("bucket", *sort_by)`` when given) and overwrites its buckets' dirs
    (or ``iceberg_table`` partitions). The written rows are then read back
    through ``counters`` (name -> aggregate Column; ``empty`` is an empty
    bucket's record) and each bucket's ``{bucket, counters,
    batch_counters, committed_at}`` record commits atomically. Returns
    resumed/ran bucket counts, ``input_scans`` and the batch-observation
    sums named by ``totals``. ``fail_after_batches`` is the crash-injection
    test hook: raise after N batches; the next call resumes."""
    ensure_run_config(output_root, config, spark)
    done = completed_buckets(output_root, spark)
    pending = [b for b in range(n_buckets) if b not in done]
    data_root = output_root.rstrip("/") + "/data"
    step = bucket_batch or max(1, len(pending))
    batches = [pending[i:i + step] for i in range(0, len(pending), step)]
    summary = {
        "resumed_buckets": len(done), "ran_buckets": 0,
        **{k: 0 for k in totals}, "input_scans": 0,
    }

    for n_done, batch in enumerate(batches):
        if fail_after_batches is not None and n_done >= fail_after_batches:
            raise RuntimeError(f"injected failure after {n_done} batches")
        rows = part
        if len(batch) < n_buckets:
            rows = part.filter(F.col("bucket").isin(batch))
        out, obs = transform(rows, batch)
        # Spread each bucket across tasks (one partition per bucket would
        # serialize a 1.5 TB bucket's write at 100 TB / 64 buckets); a
        # range repartition is ruled out because its boundary sampling
        # re-executes the batch's plan. partitionBy("bucket") below splits
        # the files per bucket regardless of task layout.
        n_write = max(len(batch), spark.sparkContext.defaultParallelism)
        out = out.repartition(n_write, "bucket", *cluster_by)
        if sort_by:
            out = out.sortWithinPartitions("bucket", *sort_by)
        if iceberg_table is not None:
            from .sinks import overwrite_buckets_iceberg

            overwrite_buckets_iceberg(out, iceberg_table, batch)
        else:
            # clear the batch's (pending, uncommitted) partition dirs first:
            # dynamic overwrite only replaces partitions it writes rows to,
            # so a crashed attempt's rows would survive a re-run that now
            # yields ZERO rows for that bucket (committed lineage over stale
            # data). Deleting pending dirs is safe -- their lineage never
            # committed, so resume recomputes them regardless.
            _delete_bucket_dirs(spark, data_root, batch)
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(data_root)
            )
        summary["input_scans"] += 1
        got = obs.get if obs is not None else {}
        stamp = time.time()
        per_bucket = _per_bucket_counters(
            spark, data_root if iceberg_table is None else iceberg_table,
            batch, counters, is_table=iceberg_table is not None,
        )
        for b in batch:
            _commit_lineage(
                output_root, b,
                {
                    "bucket": b,
                    "counters": per_bucket.get(b, dict(empty)),
                    "batch_counters": got,
                    "committed_at": stamp,
                },
                spark,
            )
        summary["ran_buckets"] += len(batch)
        for k in totals:
            summary[k] += got.get(k, 0)
    return summary


class StateStore:
    """One stage's cross-run (CDC) state under ``root`` (``<state>/<stage>``):
    ``v=<n>/`` is one run's appendix (parquet) and ``_commits/<n>.json``
    (``{version, input, output, rows, committed_at}``) commits it; only
    committed versions are read, so a run that dies before its commit
    leaves no state behind. A run ``(input, output)`` that a record already
    carries is a retry: it re-derives THAT version against the versions
    below it and rewrites it in place, so it reproduces its output and
    neither double-counts nor drains. Any other run appends max+1 (0 on an
    empty store); ``run=None`` reads every committed version. ``schema`` is
    the DDL the state reads as: columns an appendix lacks read as NULL, and
    an empty store is an empty frame of it (the first run needs no
    bootstrap)."""

    def __init__(self, spark: SparkSession, root: str, schema: str,
                 run: tuple | None = None):
        self.spark, self.root, self.schema, self.run = (
            spark, root.rstrip("/"), schema, run)
        commits = {n: _read_json(spark, path) for n, path in _records(
            spark, f"{self.root}/_commits", _COMMIT_FILE_RE).items()}
        mine = [n for n, rec in commits.items()
                if run is not None and [rec["input"], rec["output"]] == list(run)]
        self.version = mine[0] if mine else max(commits, default=-1) + 1
        self.visible = sorted(n for n in commits if n < self.version)

    def read(self) -> DataFrame:
        """The committed versions below this run's, as one frame."""
        if not self.visible:
            return self.spark.createDataFrame([], self.schema)
        return (
            self.spark.read.schema(f"{self.schema}, v int").parquet(self.root)
            .where(F.col("v").isin(self.visible)).drop("v")
        )

    def commit(self, appendix: DataFrame, partition_by: tuple = ()) -> None:
        """Write ``appendix`` as this run's version, then commit it. Call
        only after the run's output landed."""
        fs, _root, jvm = _fs_and_path(self.spark, self.root)
        record = f"{self.root}/_commits/{self.version}.json"
        data = f"{self.root}/v={self.version}"
        # a retry uncommits its version before rewriting it, so a crash
        # mid-rewrite leaves it uncommitted, never torn; an uncommitted
        # v=<n> dir is a dead run's debris (the _delete_bucket_dirs rule)
        fs.delete(jvm.org.apache.hadoop.fs.Path(record), False)
        fs.delete(jvm.org.apache.hadoop.fs.Path(data), True)
        appendix.write.partitionBy(*partition_by).parquet(data)
        rows = self.spark.read.schema(self.schema).parquet(data).count()
        _write_json(self.spark, record, {
            "version": self.version, "input": self.run[0],
            "output": self.run[1], "rows": rows, "committed_at": time.time(),
        })


def run_resumable(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    n_buckets: int = 64,
    bucket_batch: int | None = None,
    thresholds: dict[int, float] | None = None,
    fail_after_batches: int | None = None,
    iceberg_table: str | None = None,
    detector_kind: str = "stub",
    detector_kw: dict | None = None,
) -> dict:
    """Checkpoint-resumable extraction run. Returns a summary dict.

    bucket_batch=None (default) writes every pending bucket in one
    partitionBy("bucket") pass: exactly ONE scan of the input per resume
    cycle (summary["input_scans"] reports it). Setting bucket_batch bounds
    crash recomputation to a batch at the cost of one input scan per batch.

    iceberg_table: when set (and the Iceberg runtime is on the classpath),
    bucket data commits through ``overwritePartitions()`` -- one ATOMIC
    snapshot per batch with snapshot isolation (K1 parity, SURVEY section
    4.2) -- instead of parquet dynamic partition overwrite. Lineage JSON
    stays under output_root either way.

    fail_after_batches: test hook -- raise after N batches to simulate a
    crash; a subsequent call resumes from the lineage records.
    """
    # a bucket index only means something under the parameters that
    # produced it -- refuse to resume under different ones (stale
    # partitions + wrongly-skipped buckets otherwise, silently)
    config = {
        "kind": "extraction",
        "n_buckets": int(n_buckets),
        "bucket_key": "conv_id",
        "iceberg_table": iceberg_table,
        # row-set-shaping parameters: committed buckets keep the values
        # they ran under, so a resume under different ones would yield
        # an inconsistent corpus with no error. The
        # input path is pinned for the same reason -- buckets 0..k of
        # input A plus k+1.. of input B is a silent cross-corpus mix
        # AND a data loss (input-B rows hashing into 0..k never write).
        "input": input_path,
        "thresholds": thresholds,
        "detector": "%s:%s" % (
            detector_kind,
            sorted((detector_kw or {}).items()),
        ),
    }

    def extract(rows: DataFrame, batch: list[int]):
        obs = Observation(f"batch-{batch[0]}-{time.monotonic_ns()}")
        out = build_extraction(
            rows.drop("bucket"), thresholds=thresholds, order_output=False,
            observation=obs, detector_kind=detector_kind, detector_kw=detector_kw,
        ).withColumn("bucket", bucket_expr(n_buckets))
        return out, obs

    # Every conversation lands whole in exactly one task (hash on bucket,
    # conv_id), sorted by turn: per-conv stable ordering inside each
    # bucket's file set.
    return run_bucketed(
        spark, output_root, config,
        spark.read.parquet(input_path).withColumn("bucket", bucket_expr(n_buckets)),
        n_buckets, extract,
        row_counters(), empty_row_counters(),
        cluster_by=("conv_id",), sort_by=("conv_id", "turn_idx"),
        bucket_batch=bucket_batch, fail_after_batches=fail_after_batches,
        iceberg_table=iceberg_table, totals=("turns", "errors"),
    )
