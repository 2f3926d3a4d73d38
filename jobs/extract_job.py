#!/usr/bin/env python
"""Production entry point: spark-submit --py-files pkg.zip jobs/extract_job.py

Examples:
  # one-shot ordered extraction
  spark-submit --py-files pkg.zip jobs/extract_job.py \
      --input /data/transcripts --output /data/extracted

  # checkpoint-resumable bucketed run (restart-safe; re-run to resume)
  spark-submit --py-files pkg.zip jobs/extract_job.py \
      --input /data/transcripts --output /data/extracted \
      --resumable --buckets 256 --bucket-batch 16

  # streaming
  spark-submit --py-files pkg.zip jobs/extract_job.py \
      --input /data/landing --output /data/extracted \
      --streaming --checkpoint /data/ckpt

Build pkg.zip:  zip -qr pkg.zip action_pdf_accessibility_paddle_docker_spark -x '*__pycache__*'
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow running from a checkout without --py-files (spark-submit with
# --py-files pkg.zip remains the production path)
_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _repo_root not in sys.path:
    sys.path.insert(0, _repo_root)


def main() -> None:
    ap = argparse.ArgumentParser(description="Transcript extraction job")
    ap.add_argument("--input", required=True, help="transcripts table path (parquet/iceberg)")
    ap.add_argument("--output", required=True, help="output path")
    ap.add_argument("--resumable", action="store_true", help="bucketed checkpoint-resumable run")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--bucket-batch", type=int, default=0,
                    help="0 (default): all pending buckets in one pass (one input "
                         "scan); N bounds crash recomputation to N buckets per "
                         "batch at one extra input scan per batch")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    ap.add_argument("--salt", type=int, default=0,
                    help="salt buckets for conv-clustered unordered runs (0=off)")
    ap.add_argument("--no-order", action="store_true", help="skip total-order output")
    ap.add_argument("--template", action="store_true",
                    help="emit the reference-shaped tag-template JSON column")
    ap.add_argument("--format", default="parquet", choices=("parquet", "iceberg"),
                    help="sink format; iceberg needs the runtime jar + a catalog "
                         "and a dotted table identifier as --output")
    ap.add_argument("--iceberg-table", default=None,
                    help="resumable mode: commit bucket data through atomic "
                         "Iceberg overwritePartitions into this table")
    ap.add_argument("--threshold", action="append", default=[],
                    metavar="CLASS_ID=VAL", help="per-class detector threshold override")
    ap.add_argument("--detector", default="stub", choices=("stub", "paddlex"),
                    help="stub: deterministic structured-payload parser; paddlex: "
                         "production models (per-worker singletons)")
    ap.add_argument("--model", default="PP-DocLayout-L",
                    help="paddlex layout model name (or RT-DETR-H_layout_17cls)")
    ap.add_argument("--model-dir", default="/models",
                    help="paddlex model weights root")
    ap.add_argument("--infer-batch-size", type=int, default=8,
                    help="paddlex predict batch size (pages/crops per model "
                         "call; the whole Arrow batch is planned up front "
                         "either way)")
    ap.add_argument("--plan-chunk-pages", type=int, default=0,
                    help="max structured pages pinned per planner chunk "
                         "(bounds worker memory on giant payloads; 0 keeps "
                         "the SPARK_GRAFT_PLAN_CHUNK_PAGES env default, "
                         "512). The pair (--infer-batch-size, "
                         "--plan-chunk-pages) is the memory/throughput "
                         "surface: chunk bounds what is pinned, batch sizes "
                         "the model calls within it")
    ap.add_argument("--tag-tree", action="store_true",
                    help="also write the flattened tag-tree row table to "
                         "<output>_tag_tree (the reference `tag` subcommand's "
                         "struct-tree, src/autotag.py:224-260, as rows; "
                         "implies --template)")
    ap.add_argument("--debug-images", action="store_true",
                    help="also write per-page region-overlay PNGs to "
                         "<output>_debug_images (K3 sink; reference "
                         "src/ai.py:82-84 save_to_img analog)")
    ap.add_argument("--dump-config", action="store_true",
                    help="print the effective engine config (thresholds, label "
                         "map, class set) as JSON and exit -- the reference's "
                         "`config` subcommand analog (src/main.py:282-296)")
    ap.add_argument("--mathml-images", action="store_true",
                    help="mathml entry-point analog (src/generate_mathml.py:54-78): "
                         "--input is a parquet of (media_id bigint, payload binary) "
                         "formula images; writes (media_id, latex, mathml) to --output")
    args = ap.parse_args()
    # refuse flags the chosen mode would silently ignore, before any session
    mode = "--streaming" if args.streaming else "--resumable" if args.resumable else None
    if mode:
        ignored = [flag for flag, given in (
            ("--resumable", args.streaming and args.resumable),
            ("--salt", args.salt), ("--no-order", args.no_order),
            ("--template", args.template), ("--tag-tree", args.tag_tree),
            ("--debug-images", args.debug_images),
            ("--format iceberg", args.format == "iceberg"),
        ) if given]
        if ignored:
            ap.error(f"{mode} ignores {', '.join(ignored)}")
    if args.streaming and not args.checkpoint:
        ap.error("--streaming requires --checkpoint")
    if args.iceberg_table and not args.resumable:
        ap.error("--iceberg-table requires --resumable")
    if args.salt and not args.no_order:
        ap.error("--salt requires --no-order (ordered output does not salt)")

    from pyspark.sql import Observation, SparkSession

    from action_pdf_accessibility_paddle_docker_spark.config import effective_thresholds
    from action_pdf_accessibility_paddle_docker_spark.plans.extraction import (
        build_extraction,
        read_transcripts,
    )
    from action_pdf_accessibility_paddle_docker_spark.plans.lineage import (
        lineage_metrics,
        run_resumable,
    )

    overrides = {}
    for t in args.threshold:
        k, v = t.split("=", 1)
        overrides[int(k)] = float(v)
    thresholds = effective_thresholds(overrides, model=args.model)
    detector_kw = (
        {"model": args.model, "model_dir": args.model_dir,
         "infer_batch_size": args.infer_batch_size}
        if args.detector == "paddlex" else {}
    )

    if args.dump_config:
        from action_pdf_accessibility_paddle_docker_spark import __version__
        from action_pdf_accessibility_paddle_docker_spark.config import (
            CLASS_LABELS,
            LABEL_ELEMENT_MAP,
        )

        print(json.dumps({
            "version": __version__,
            "model": args.model,
            "detector": args.detector,
            "thresholds": {CLASS_LABELS[k]: v for k, v in sorted(thresholds.items())},
            "label_element_map": LABEL_ELEMENT_MAP,
        }, indent=2))
        return

    builder = SparkSession.builder.appName("transcript-extraction")
    if args.plan_chunk_pages:
        # the kernel reads the knob from the env at worker import: set it
        # in this process (local mode: python workers inherit the driver
        # env) AND as executorEnv (cluster mode: ships to executors); also
        # patch the already-imported module constant for the driver-side
        # code path
        val = str(args.plan_chunk_pages)
        os.environ["SPARK_GRAFT_PLAN_CHUNK_PAGES"] = val
        builder = builder.config("spark.executorEnv.SPARK_GRAFT_PLAN_CHUNK_PAGES", val)
        from action_pdf_accessibility_paddle_docker_spark.operators import (
            payload as _payload,
        )

        _payload.PLAN_CHUNK_PAGES = args.plan_chunk_pages
    spark = builder.getOrCreate()

    if args.mathml_images:
        from action_pdf_accessibility_paddle_docker_spark.operators.multimodal import (
            mathml_from_images,
        )

        out = mathml_from_images(spark.read.parquet(args.input))
        out.write.mode("overwrite").parquet(args.output)
        back = spark.read.parquet(args.output)
        print(json.dumps({
            "mode": "mathml-images",
            "rows": back.count(),
            "ok": back.where("ok").count(),
        }))
        return

    if args.streaming:
        from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
            run_stream_to_parquet,
        )

        run_stream_to_parquet(
            spark, args.input, args.output, args.checkpoint, thresholds,
            detector_kind=args.detector, detector_kw=detector_kw,
        )
        # an availableNow run over an empty/no-match input commits zero
        # batches; the sink dir then has no data files to infer a schema
        # from -- report 0 rows instead of crashing after a clean stream
        try:
            n_rows = spark.read.parquet(args.output).count()
        except Exception:  # noqa: BLE001 -- empty sink, schema not inferable
            n_rows = 0
        print(json.dumps({"mode": "streaming", "rows": n_rows}))
        return

    if args.resumable:
        summary = run_resumable(
            spark, args.input, args.output,
            n_buckets=args.buckets, bucket_batch=args.bucket_batch or None,
            thresholds=thresholds, iceberg_table=args.iceberg_table,
            detector_kind=args.detector, detector_kw=detector_kw,
        )
        print(json.dumps({"mode": "resumable", **summary}))
        return

    obs = Observation("extract")
    df = read_transcripts(spark, args.input)
    out = build_extraction(
        df, thresholds=thresholds,
        salt=args.salt or None,
        order_output=not args.no_order,
        observation=obs,
        detector_kind=args.detector,
        detector_kw=detector_kw,
        include_template=args.template or args.tag_tree,
    )
    from action_pdf_accessibility_paddle_docker_spark.plans.sinks import write_extracted

    write_extracted(out, args.output, format=args.format)
    back = (
        spark.read.table(args.output) if args.format == "iceberg"
        else spark.read.parquet(args.output)
    )
    if args.tag_tree:
        from action_pdf_accessibility_paddle_docker_spark.functions.tagtree import tag_tree

        tag_tree(back).write.mode("overwrite").parquet(
            args.output.rstrip("/") + "_tag_tree"
        )
    if args.debug_images:
        from action_pdf_accessibility_paddle_docker_spark.operators.debug_image import (
            debug_images,
        )

        debug_images(back).write.mode("overwrite").parquet(
            args.output.rstrip("/") + "_debug_images"
        )
    metrics = lineage_metrics(back)
    if args.format == "iceberg":
        metrics.writeTo(args.output + "_lineage").using("iceberg").createOrReplace()
    else:
        metrics.write.mode("overwrite").parquet(args.output.rstrip("/") + "_lineage")
    print(json.dumps({"mode": "batch", "counters": {k: int(v) for k, v in obs.get.items()}}))


if __name__ == "__main__":
    main()
