"""perfbench/checks.py imports the region flatteners from here; the next
change to the benchmark imports them from ``oracle.compare`` instead."""

from action_pdf_accessibility_paddle_docker_spark.oracle.compare import (  # noqa: F401
    flatten_oracle_regions,
    flatten_region_rows,
)
