"""The extraction plan: transcripts DataFrame -> extracted DataFrame.

Design (Spark-first, sized for ~100 TB on a 1000-executor cluster):

* The whole per-turn pipeline (payload classify -> stub detect -> threshold
  filter -> table/formula sub-pipelines -> NMS -> element conversion ->
  reading order -> artifact strip -> text assembly) is ONE fused
  ``mapInArrow`` stage: zero shuffles for the map phase, Arrow RecordBatches
  into Python workers (passthrough columns re-emitted zero-copy; only
  ``text`` is materialized as Python objects), numpy-vectorized geometry.
  This mirrors the reference's page-at-a-time pipeline (bounded memory)
  while scoring whole batches.
* Skew: a conversation with 10^6 turns is harmless in the map phase (rows are
  independent; file splits bound partition size via
  ``spark.sql.files.maxPartitionBytes``). When the input is an Iceberg table
  partitioned by conv_id, enable ``salt`` to rebalance with
  ``repartition(n, conv_id, pmod(xxhash64(turn_idx), salt))`` before the map
  (north_rule: salted partitioning on conv_id).
* Stable output ordering: ``repartitionByRange(conv_id, turn_idx)`` +
  ``sortWithinPartitions`` gives a total order across partitions (range
  partitioner) without a single-node sort -- the one unavoidable shuffle.
* Lineage: the kernel stamps each row with its executor partition id and
  counters; ``plans/lineage.py`` reduces them to a per-partition metrics
  table, and ``df.observe`` exposes global counters on the same pass.

The reference analog of this plan is the `template` entry point
(/root/reference/src/create_template.py:66-137): transcript in -> structured
extraction out, no document mutation.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..config import effective_thresholds

REGION_DDL = (
    "array<struct<"
    "page:int,ordinal:int,label:string,score:double,bbox:array<double>,"
    "tag:string,flags:string,rtype:string,heading:string,text:string,"
    "reading_rank:int,region_id:bigint,parent_region_id:bigint,"
    "row_num:int,col_num:int,row_span:int,col_span:int>>"
)

MATHML_DDL = "array<struct<region_id:bigint,mathml:string>>"

OUTPUT_DDL = (
    "conv_id string, turn_idx int, role string, tool string, ts timestamp, "
    f"payload_kind string, extracted_text string, regions {REGION_DDL}, "
    f"mathml {MATHML_DDL}, n_regions int, n_artifacts int, n_pages int, "
    "error string, part_id int"
)

# with include_template: the reference-shaped tag-template document (K2
# output, src/template_json.py) serialized per turn
OUTPUT_DDL_TEMPLATE = OUTPUT_DDL + ", template_json string"

# Arrow twins of the output DDL: the kernel emits RecordBatches directly
# (mapInArrow), so the nested region/mathml types are declared once here.
# Region rows are plain tuples -- pyarrow struct-encodes them positionally,
# which is why the field order below must match operators/payload.py's
# tuple layout (same contract the DDL string already pins).
REGION_PA = pa.list_(
    pa.struct(
        [
            ("page", pa.int32()),
            ("ordinal", pa.int32()),
            ("label", pa.string()),
            ("score", pa.float64()),
            ("bbox", pa.list_(pa.float64())),
            ("tag", pa.string()),
            ("flags", pa.string()),
            ("rtype", pa.string()),
            ("heading", pa.string()),
            ("text", pa.string()),
            ("reading_rank", pa.int32()),
            ("region_id", pa.int64()),
            ("parent_region_id", pa.int64()),
            ("row_num", pa.int32()),
            ("col_num", pa.int32()),
            ("row_span", pa.int32()),
            ("col_span", pa.int32()),
        ]
    )
)
MATHML_PA = pa.list_(pa.struct([("region_id", pa.int64()), ("mathml", pa.string())]))


def make_extraction_kernel(
    thresholds: dict[int, float] | None = None,
    process_table: bool = True,
    process_formula: bool = True,
    detector_kind: str = "stub",
    detector_kw: dict | None = None,
    include_template: bool = False,
):
    """Build the mapInArrow kernel. Thresholds are resolved on the driver
    and closed over (the reference pushes them into the detector the same
    way, src/ai.py:72-77). detector_kind selects the per-worker detector
    ("stub" deterministic payload parser; "paddlex" production singleton --
    loaded once per Python worker, operators/detector.py). include_template
    adds a template_json column in the reference's K2 document shape.

    Why Arrow batches instead of pandas frames: only ``text`` ever needs to
    exist as Python objects -- the five passthrough columns (conv_id,
    turn_idx, role, tool, ts) are re-emitted as the INPUT Arrow arrays,
    zero-copy, skipping the arrow->pandas->numpy->pandas->arrow round trip
    mapInPandas imposed on every byte of them. Measured 1.3x on the 489k-turn
    bench (best-of-mode, paired run against the former mapInPandas kernel;
    a traced perfbench extract_mixed run reports the Arrow share as
    plans.extraction.arrow_s); output
    value-identical row-for-row (part_id may differ -- AQE coalesces the
    range shuffle per plan shape, and partition lineage is physical by
    definition)."""
    th = thresholds if thresholds is not None else effective_thresholds()
    det_kw = detector_kw or {}

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # imports inside the worker process
        import gc

        from pyspark import TaskContext

        from ..operators.detector import get_detector
        from ..operators.payload import extract_series

        # The kernel allocates heavily (tuples/lists per region) and creates
        # no reference cycles; CPython's default gen0 threshold (700) makes
        # the collector scan constantly under that load -- measurable
        # memory-bandwidth overhead in the 32-worker regime. Raise it once
        # per worker (idempotent).
        if gc.get_threshold()[0] < 100_000:
            gc.set_threshold(200_000, 50, 25)

        detector = get_detector(th, detector_kind, **det_kw)  # per-worker singleton
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            in_texts = batch.column("text").to_pylist()
            kinds: list[str] = [""] * n
            texts: list[str] = [""] * n
            regions: list[list] = [[]] * n
            mathml: list[list] = [[]] * n
            n_regions = [0] * n
            n_artifacts = [0] * n
            n_pages = [0] * n
            errors: list[str | None] = [None] * n
            templates: list[str | None] = [None] * n
            for i, res in enumerate(
                extract_series(in_texts, th, process_table, process_formula, detector)
            ):
                kinds[i] = res["payload_kind"]
                texts[i] = res["extracted_text"]
                regions[i] = res["regions"]
                mathml[i] = res["mathml"]
                n_regions[i] = len(res["regions"])
                n_artifacts[i] = res["n_artifacts"]
                n_pages[i] = res["n_pages"]
                errors[i] = res.get("error")
                if include_template:
                    import json as _json

                    from ..functions.template import template_from_region_rows
                    from ..operators.payload import region_as_dict

                    templates[i] = _json.dumps(
                        template_from_region_rows(
                            [region_as_dict(r) for r in res["regions"]],
                            {m[0] for m in res["mathml"]},
                            zoom=res.get("zoom", 2.0),
                        )
                    )
            # Passthrough columns re-emit the input Arrow buffers. Unlike
            # mapInPandas there is no implicit coercion, so align widths
            # with the declared DDL (createDataFrame inputs carry int64
            # turn_idx; parquet inputs are already int32 -> no-op cast).
            def _as(name: str, typ: pa.DataType) -> pa.Array:
                col = batch.column(name)
                return col if col.type == typ else col.cast(typ)

            arrays = [
                _as("conv_id", pa.string()),
                _as("turn_idx", pa.int32()),
                _as("role", pa.string()),
                _as("tool", pa.string()),
                batch.column("ts"),
                pa.array(kinds, pa.string()),
                pa.array(texts, pa.string()),
                pa.array(regions, REGION_PA),
                pa.array(mathml, MATHML_PA),
                pa.array(n_regions, pa.int32()),
                pa.array(n_artifacts, pa.int32()),
                pa.array(n_pages, pa.int32()),
                pa.array(errors, pa.string()),
                pa.array([part_id] * n, pa.int32()),
            ]
            names = [
                "conv_id", "turn_idx", "role", "tool", "ts", "payload_kind",
                "extracted_text", "regions", "mathml", "n_regions",
                "n_artifacts", "n_pages", "error", "part_id",
            ]
            if include_template:
                arrays.append(pa.array(templates, pa.string()))
                names.append("template_json")
            yield pa.RecordBatch.from_arrays(arrays, names)

    return kernel


# The per-row counters of extracted rows, defined once: record key ->
# (aggregate, column; None counts rows). lineage_metrics and the resumable
# lineage records carry all of them; build_extraction observes the first
# four on the same pass.
ROW_COUNTERS = {
    "turns": ("count", None),
    "regions": ("sum", "n_regions"),
    "artifacts": ("sum", "n_artifacts"),
    "pages": ("sum", "n_pages"),
    "errors": ("count", "error"),  # count() skips nulls
    "min_conv_id": ("min", "conv_id"),
    "max_conv_id": ("max", "conv_id"),
}
OBSERVED_COUNTERS = ("turns", "regions", "artifacts", "errors")


def row_counters(*names: str) -> dict[str, Column]:
    """ROW_COUNTERS (all, or ``names``) as aggregate Columns aliased to
    their keys."""
    out = {}
    for name in names or ROW_COUNTERS:
        agg, col = ROW_COUNTERS[name]
        out[name] = getattr(F, agg)(F.lit(1) if col is None else col).alias(name)
    return out


def empty_row_counters() -> dict:
    """ROW_COUNTERS over zero rows: counts and sums 0, min/max None."""
    return {
        name: None if agg in ("min", "max") else 0
        for name, (agg, _) in ROW_COUNTERS.items()
    }


def salt_expr(salt: int) -> Column:
    """Salted co-partitioning key: keeps conv locality at bucket granularity
    while splitting a mega-conversation across ``salt`` buckets."""
    return F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt))


def build_extraction(
    df: DataFrame,
    thresholds: dict[int, float] | None = None,
    process_table: bool = True,
    process_formula: bool = True,
    salt: int | None = None,
    salt_partitions: int | None = None,
    order_output: bool = True,
    order_partitions: int | None = None,
    observation: Observation | None = None,
    detector_kind: str = "stub",
    detector_kw: dict | None = None,
    include_template: bool = False,
) -> DataFrame:
    """Build the full extraction plan over a transcripts DataFrame.

    salt: when set, pre-shuffle the input on (conv_id, salt_expr) to defeat
          long-conversation skew in conv-clustered inputs. Leave None for
          file-split inputs (splits are already balanced; saves a shuffle).
    order_output: total (conv_id, turn_idx) order via range repartition.
    detector_kind: "stub" (deterministic payload parser) or "paddlex"
          (per-worker production model singleton).
    """
    kernel = make_extraction_kernel(
        thresholds, process_table, process_formula, detector_kind, detector_kw,
        include_template,
    )
    ddl = OUTPUT_DDL_TEMPLATE if include_template else OUTPUT_DDL

    src = df.select("conv_id", "turn_idx", "role", "tool", "ts", "text")
    if order_output:
        # Order the INPUT, not the output:
        #  * the range partitioner's boundary sampling then scans only two
        #    pruned parquet columns instead of re-executing the kernel
        #    (which would double kernel cost and double observe() counters);
        #  * the within-partition sort handles raw rows (text only) instead
        #    of kernel output rows fattened with regions arrays -- measured
        #    ~35s cheaper at 489k turns on local[32];
        #  * mapInArrow is a narrow, order-preserving per-partition map, so
        #    the output inherits the total (conv_id, turn_idx) order and the
        #    kernel stays the final (perfectly scaling) stage.
        # Bonus: a mega-conversation is split across range partitions by
        # turn ranges, which is itself the skew defense.
        # order_partitions pins the range-partition count (AQE otherwise
        # coalesces small shuffles -- right at scale, but pin it when a
        # minimum spread is required, e.g. skew tests / small clusters)
        if order_partitions:
            src = src.repartitionByRange(order_partitions, "conv_id", "turn_idx")
        else:
            src = src.repartitionByRange("conv_id", "turn_idx")
        src = src.sortWithinPartitions("conv_id", "turn_idx")
    elif salt:
        nparts = salt_partitions or src.sparkSession.sparkContext.defaultParallelism
        src = src.repartition(nparts, F.col("conv_id"), salt_expr(salt))

    out = src.mapInArrow(kernel, schema=ddl)

    if observation is not None:
        out = out.observe(observation, *row_counters(*OBSERVED_COUNTERS).values())

    return out


TRANSCRIPT_INPUT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcripts(spark, path: str, format: str | None = None) -> DataFrame:
    """Read a transcripts table.

    format=None auto-detects: an Iceberg table identifier (dotted, no
    slashes) goes through the catalog; otherwise parquet. Explicit
    "json" / "csv" readers enforce the transcript schema (landing-zone
    ingestion formats; ts parsed, malformed rows fail loudly under ANSI)."""
    if format is None:
        from .sinks import iceberg_available, is_table_identifier

        if is_table_identifier(path):
            # dotted catalog identifier (same heuristic as the sink side):
            # this IS an Iceberg table reference; failing over to parquet
            # would produce a baffling path error, so surface the real
            # problem instead. Bare data-file names ('out.snappy.parquet')
            # stay paths.
            if not iceberg_available(spark):
                raise RuntimeError(
                    f"{path!r} looks like a catalog table identifier but the "
                    "Iceberg Spark runtime is not on the classpath"
                )
            return spark.read.format("iceberg").load(path)
        format = "parquet"
    if format == "parquet":
        return spark.read.parquet(path)
    if format == "iceberg":
        return spark.read.format("iceberg").load(path)
    if format == "json":
        return spark.read.schema(TRANSCRIPT_INPUT_DDL).json(path)
    if format == "csv":
        # name-based (a user schema would bind POSITIONALLY to the file's
        # column order); cast after reading strings
        raw = (
            spark.read.option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .csv(path)
        )
        return raw.select(
            F.col("conv_id").cast("string"),
            F.col("turn_idx").cast("int"),
            F.col("role").cast("string"),
            F.col("text").cast("string"),
            F.col("tool").cast("string"),
            F.col("ts").cast("timestamp"),
        )
    raise ValueError(f"unknown transcripts format {format!r}")
