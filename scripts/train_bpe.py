"""Train BPE merges on the contract corpus and bake them into
ocr_spark/functions/bpe_merges.py (the classifier_weights precedent:
sample-trained, committed, versioned — retrain when the corpus
distribution shifts).

Deterministic: the trainer's merge selection breaks count ties on the
pair string ascending, so re-running regenerates the file
byte-identically.

Usage:  python scripts/train_bpe.py [sf_dir] [n_merges]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    from ocr_spark.functions.bpe import train_bpe
    from ocr_spark.pipeline.session import get_spark

    spark = get_spark("local[8]", app_name="train_bpe")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs, n_merges=n_merges)
    spark.stop()

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ocr_spark",
        "functions",
        "bpe_merges.py",
    )
    with open(out, "w") as fh:
        fh.write(
            '"""Baked BPE merges (generated by scripts/train_bpe.py — \n'
            "deterministic; this committed file is the source of truth).\n"
            "\n"
            f"Trained on {sf_dir}/documents.parquet, {len(merges)} merges.\n"
            "Merged symbols are U+E000.. private-use placeholders in rank\n"
            'order (see functions/bpe.py). The constant name is\n'
            'corpus-neutral; provenance lives in this header.\n"""\n\n'
            f"MERGES = {merges!r}\n"
            "# back-compat alias for the original sf0.001-trained bake\n"
            "MERGES_SF001 = MERGES\n"
        )
    print(f"wrote {out}: {len(merges)} merges")


if __name__ == "__main__":
    main()
