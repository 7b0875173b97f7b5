#!/usr/bin/env python3
"""Materialize the golden extraction snapshot used by the
``span_diff_golden`` contract query.

The snapshot is the CURRENT build's extraction over the fixed sf0.001
corpus, written as ONE deterministic parquet file (sorted rows, fixed
row-group layout) under tests/fixtures/. The contract query then diffs
every future build against this stored table — so a silent kernel
behavior change cannot cancel out of both sides the way it could when
span_diff compared the build against a perturbation of itself.

Regenerate ONLY on an intentional semantics change, and say so in the
commit. The script refuses to overwrite an existing snapshot unless
KERNEL_SEMANTICS_CHANGED=1 is set — a drive-by regeneration that
silently re-baselines the kernel is exactly the failure mode the
golden diff exists to catch:

    KERNEL_SEMANTICS_CHANGED=1 python scripts/make_golden_extract.py
"""
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)  # noqa

from ocr_spark.pipeline.extract import extract_main_content  # noqa: E402
from ocr_spark.pipeline.session import get_spark  # noqa: E402
from ocr_spark.sources.synth import synthesize_spans  # noqa: E402

OUT = os.path.join(REPO, "tests", "fixtures", "golden_extract_sf0001.parquet")
SF_DIR = "/root/testdata/sf0.001"

if os.path.exists(OUT) and os.environ.get("KERNEL_SEMANTICS_CHANGED") != "1":
    sys.exit(
        f"REFUSING to overwrite the golden snapshot at {OUT}.\n"
        "This fixture is the kernel-semantics baseline; regenerating it "
        "re-baselines every future span_diff_golden comparison. If the "
        "kernel semantics changed INTENTIONALLY, rerun with "
        "KERNEL_SEMANTICS_CHANGED=1 and say so in the commit message."
    )

spark = get_spark("local[8]")
docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
pdf = (
    extract_main_content(synthesize_spans(docs))
    .toPandas()
    .sort_values(["doc_id", "offset"])
    .reset_index(drop=True)
)
table = pa.Table.from_pandas(pdf, preserve_index=False)
pq.write_table(table, OUT, compression="snappy")
print(f"wrote {len(pdf)} rows -> {OUT}")
spark.stop()
