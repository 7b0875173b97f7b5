#!/usr/bin/env python3
"""spark-submit entry: the COMPLETE training-data curation pipeline,
end to end — the composition a 100 TB corpus actually runs:

0.5 shape    — optional, on the NESTED span table before the kernel
               ever runs, in this order: --integrity-gate quarantines
               documents that break the span-table contract (full
               rows written aside for re-parse); --interleave-gate
               drops image-farm / gallery-run / prose-free documents
               (scan-stage array folds, zero shuffle); --template-cap
               bounds each structural template to K members;
               --media-dedup-tau drops gallery re-posts, one
               representative kept;
1. extract   — interleaved span table -> boilerplate-stripped main
               content (single-pass Arrow kernel, per-doc metrics);
1.2 freqstrip — optional (--strip-boilerplate N): remove text spans
               whose exact content recurs in >= N distinct documents
               (corpus-frequency complement to the kernel's
               kind-heuristic strip; hash-only shuffles) before the
               per-doc text is assembled;
2. scrub     — optional (--nfc / --line-dedup / --pii-scrub /
               --strip-passages): Unicode NFC normalization (first —
               later hashes and regexes must see canonical bytes),
               within-doc repeated-line removal, staged PII
               redaction, and the cross-doc ExactSubstr passage cut
               (last — the per-doc scrubs must not re-introduce cut
               passages), BEFORE every content-hash stage so the
               novelty gate, dedup, and the written table all see
               scrubbed text;
3. novelty   — optional (--against): anti-join the batch against an
               already-curated corpus so re-crawls short-circuit
               before the expensive stages;
4. decontam  — optional (--benchmark): drop docs overlapping the
               eval set by w-grams or containing sub-w-word items
               verbatim (benchmark scrubbed identically);
5. filter    — deterministic quality score + language-ID gates over
               the extracted text (pure codegen, scan-stage), plus
               the optional --gopher rule panel and the optional
               --min-lm-fluency gate (bigram self-LM mean scaled
               conditional probability — the perplexity-filter
               analog, exact integer arithmetic), and the optional
               --dsir-target gate (DSIR-style importance toward a
               target-domain corpus, fixed-point hashed-bigram
               probability difference), and the optional
               --classifier-gate (the baked fastText-style hashed
               linear model's keep decision — integer-exact margins,
               broadcast weight dim; scores only the docs still
               gated, since the model carries no corpus statistics),
               and the optional --encoding-gate (drop docs with
               mojibake / replacement / control-char damage —
               scan-stage encoding_profile signals);
6. dedup     — exact (content hash) then near-dup (minhash-LSH
               candidates, exact-Jaccard verify, connected
               components) over the survivors;
7. balance   — optional (--cap-per-source): at most N survivors per
               source domain, hash-ranked so the selection is
               retry/resume-stable; optional (--temperature-mix F):
               n^0.5 source rebalancing toward ~F of the survivors
               (small sources up-weighted), applied after the cap;
7.5 sample   — optional (--quality-sample F): keep each survivor
               with probability clamp(quality * F) — deterministic
               content-hash Bernoulli, so high-quality docs are
               over-represented in the final mix and the selection
               is retry/resume-stable;
8. split     — optional (--split): deterministic hash-bucketed
               train/val/test assignment column; optional
               (--shard-budget): global token-budget shard ids via
               the distributed prefix sum;
9. write     — curated (doc_id, text[, source, split, shard_id])
               table in the bucketed layout + one JSON summary line
               with per-stage counts;
9.6 mixture  — optional (--mixture-weights JSON --mixture-budget N):
               `<output>_mix` sidecar with the EXECUTED mix
               (doc_id, source, epoch) — epoch-repeated and
               fractionally-sampled per functions/sampling.py
               apply_mixture, coverage-checked;
9.5 pack     — optional (--pack-seq-len L): training-loader sidecars
               next to the curated table — `<output>_chunks` (word
               windows of the curated text, co-located by pack
               shard) and `<output>_pack_index` (the concat-then-cut
               sample index: which chunk segments compose each
               L-token training sequence), both partitioned by shard
               so a loader's per-shard read is partition-pruned;
9.7 sidecars — optional span-table sidecars computed from the
               stage-0.5 table (span-scrubbed under --pii-scrub):
               --emit-structure (captions, section paths, media
               context, template census, media re-post pairs, table
               shapes), --emit-rendered (tokenizer-ready strings) and
               --emit-chunks (multimodal training windows, optionally
               slot-packed with --pack-slots and audited with
               --verify-chunks).

Every stage is an already-oracle-checked operator; this job is the
glue. Scale shape: one kernel pass, scan-stage filters, candidate-
driven dedup joins — no stage touches an n^2 space and the only
corpus-wide shuffles are the dedup aggregates.

Example:
  spark-submit --py-files dist/ocr_spark.zip jobs/curate.py \\
    --input /data/spans.parquet --output /out/curated \\
    --min-quality 0.3 --langs en,vi --tau 0.5
"""

from __future__ import annotations

import argparse
import json


def _write_span_sidecars(spark, args, docs, summary: dict) -> int:
    """Stage 9.7: write the --emit-* sidecars of the span table
    ``docs`` and add their counts to ``summary``. Returns the number
    of documents the --verify-chunks audit found unaccounted for (0
    when the audit is off)."""
    if args.emit_structure:
        from ocr_spark.functions.interleave import (
            caption_pairs,
            section_paths,
            template_stats,
        )
        from ocr_spark.functions.media import media_context, media_jaccard_pairs
        from ocr_spark.functions.tables import table_shapes

        for name, df in (
            ("caption_pairs", caption_pairs(docs)),
            ("section_paths", section_paths(docs)),
            ("media_context", media_context(docs)),
            # corpus template census (content-blind structural
            # fingerprints) + gallery re-post pairs: the two
            # dedup-adjacent signals only the span table carries
            ("templates", template_stats(docs)),
            ("media_pairs", media_jaccard_pairs(docs)),
            # per-table shape census over the kernel's OTSL cell
            # spans (empty when the corpus carries no tables)
            ("tables", table_shapes(docs)),
        ):
            out = f"{args.emit_structure}/{name}"
            df.write.mode("overwrite").parquet(out)
            summary[f"n_{name}"] = spark.read.parquet(out).count()
    if args.emit_rendered:
        from ocr_spark.functions.interleave import render_interleaved

        out = f"{args.emit_rendered}/rendered"
        render_interleaved(docs).write.mode("overwrite").parquet(out)
        summary["n_rendered_docs"] = spark.read.parquet(out).count()
    if not args.emit_chunks:
        return 0
    from ocr_spark.functions.interleave import MEDIA_TOKEN_COST, chunk_interleaved

    media_cost = (
        MEDIA_TOKEN_COST if args.media_token_cost is None else args.media_token_cost
    )
    cost_fn = None
    if args.chunk_cost == "bpe":
        from ocr_spark.functions.bpe import bpe_token_count_expr
        from ocr_spark.functions.bpe_merges import MERGES

        def cost_fn(col):
            return (
                f"coalesce({bpe_token_count_expr(MERGES, col)}, "
                "CAST(0 AS BIGINT))"
            )

    out = f"{args.emit_chunks}/chunks"
    chunk_interleaved(
        docs,
        max_tokens=args.chunk_tokens,
        media_token_cost=media_cost,
        text_cost=cost_fn,
    ).write.mode("overwrite").parquet(out)
    # sidecar metadata: without a record of the cost model the sidecar
    # was cut under, a later audit with the wrong cost is
    # indistinguishable from corruption (the bloom (m_bits, k)
    # metadata precedent)
    from ocr_spark.pipeline.storage import FileStore

    FileStore(args.emit_chunks, spark).write_json(
        f"{args.emit_chunks}/chunks_meta.json",
        {
            "chunk_cost": args.chunk_cost,
            "chunk_tokens": args.chunk_tokens,
            "media_token_cost": media_cost,
        },
    )
    summary["chunk_cost"] = args.chunk_cost
    summary["n_span_chunks"] = spark.read.parquet(out).count()
    if args.pack_slots:
        from ocr_spark.functions.packing import pack_interleaved

        # pack the WRITTEN chunk table (one chunking execution)
        packs_out = f"{args.emit_chunks}/packs"
        pack_interleaved(
            spark.read.parquet(out), slots=args.pack_slots
        ).write.mode("overwrite").parquet(packs_out)
        summary["n_pack_rows"] = spark.read.parquet(packs_out).count()
    if not args.verify_chunks:
        return 0
    from ocr_spark.functions.interleave import chunk_integrity

    # audit the WRITTEN sidecar (not the in-memory frame): this is the
    # read path training will use, so it also covers parquet
    # round-trip corruption
    bad_docs = (
        chunk_integrity(
            docs,
            max_tokens=args.chunk_tokens,
            media_token_cost=media_cost,
            chunks=spark.read.parquet(out),
            text_cost=cost_fn,
        )
        .where("NOT ok")
        .count()
    )
    summary["chunk_integrity_bad_docs"] = bad_docs
    return bad_docs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="span table parquet (doc_id, spans)")
    ap.add_argument("--output", required=True, help="curated table output dir")
    ap.add_argument(
        "--synthesize",
        action="store_true",
        help="input is a flat documents table; derive the span table",
    )
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument(
        "--langs", default="", help="comma-separated allowed lang_pred values; empty = all"
    )
    ap.add_argument("--tau", type=float, default=0.5, help="near-dup jaccard threshold")
    ap.add_argument(
        "--against",
        default=None,
        help="previously curated corpus (parquet with a text column); "
        "only documents whose text is absent from it proceed",
    )
    ap.add_argument(
        "--cap-per-source",
        type=int,
        default=0,
        help="max curated docs per source domain (needs --synthesize "
        "input with a source column); 0 = off",
    )
    ap.add_argument(
        "--split",
        default="",
        help="comma list name=weight (e.g. train=0.9,val=0.05,test=0.05) "
        "to add a deterministic hash split column; empty = off",
    )
    ap.add_argument(
        "--nfc",
        action="store_true",
        help="Unicode-NFC normalize extracted text before any "
        "content-hash stage (decomposed spellings must dedup equal)",
    )
    ap.add_argument(
        "--pii-scrub",
        action="store_true",
        help="redact emails/IPv4s/phones (staged, <EMAIL>/<IP>/<PHONE> "
        "tokens) before any content-hash stage; the span table the "
        "--emit-* sidecars read is redacted per text span too",
    )
    ap.add_argument(
        "--line-dedup",
        action="store_true",
        help="drop repeated lines within each document (C4-style, "
        "first occurrence kept) before any content-hash stage",
    )
    ap.add_argument(
        "--gopher",
        action="store_true",
        help="apply the Gopher quality-rule panel as an additional gate",
    )
    ap.add_argument(
        "--encoding-gate",
        action="store_true",
        help="drop docs flagged by the encoding-damage profile "
        "(mojibake digraphs / U+FFFD replacement chars / control+C1 "
        "chars — functions/unicode_norm.py encoding_profile)",
    )
    ap.add_argument(
        "--classifier-gate",
        action="store_true",
        help="apply the baked hashed linear quality classifier's keep "
        "decision as an additional gate (train real weights with "
        "scripts/train_quality_classifier.py; the committed demo model "
        "memorizes the synthetic contract corpus)",
    )
    ap.add_argument(
        "--min-lm-fluency",
        type=int,
        default=0,
        help="drop docs whose bigram self-LM mean scaled conditional "
        "probability (sum_scaled div n_bigrams, 1e6 = certain) falls "
        "below this; docs with < 2 words have no transitions and are "
        "dropped too; 0 = off",
    )
    ap.add_argument(
        "--dsir-target",
        default=None,
        help="target-domain parquet (text column); docs are DSIR-"
        "importance-scored toward it against the corpus background "
        "and gated at --min-dsir-score",
    )
    ap.add_argument(
        "--min-dsir-score",
        type=int,
        default=0,
        help="drop docs whose mean per-feature DSIR score "
        "(score_scaled div n_feats, fixed-point 1e6) falls below "
        "this; negative thresholds admit mildly off-target docs; "
        "active only with --dsir-target",
    )
    ap.add_argument(
        "--benchmark",
        default=None,
        help="benchmark/eval parquet (text column); documents sharing "
        ">= --contam-overlap distinct --contam-w-grams with it are dropped",
    )
    ap.add_argument("--contam-w", type=int, default=13, help="decontamination n-gram width")
    ap.add_argument("--contam-overlap", type=int, default=2, help="overlap threshold")
    ap.add_argument(
        "--temperature-mix",
        type=float,
        default=0.0,
        help="sample survivors to ~F of their count with per-source "
        "rates proportional to n^0.5 / n (small sources up-weighted); "
        "0 = off",
    )
    ap.add_argument(
        "--quality-sample",
        type=float,
        default=0.0,
        help="keep each curated doc with probability "
        "min(1, quality * F) — deterministic quality-weighted "
        "downsampling after dedup/cap; 0 = off",
    )
    ap.add_argument(
        "--shard-budget",
        type=int,
        default=0,
        help="add a shard_id column packing ~N whitespace tokens per "
        "shard (global distributed prefix sum); 0 = off",
    )
    ap.add_argument(
        "--integrity-gate",
        default=None,
        metavar="DIR",
        help="audit the span-table input contract (span_integrity: "
        "distinct non-NULL offsets, media/text shape, kinds) before "
        "extraction; violating documents are quarantined to DIR — full "
        "original rows, for re-parse — and excluded from the run. The "
        "violator id set is tiny by construction, so both the "
        "quarantine semi-join and the exclusion anti-join broadcast "
        "under AQE. NULL-doc_id rows never match either join and stay "
        "in the run, where the kernels already turn them into error "
        "rows (the NULL-id contract)",
    )
    ap.add_argument(
        "--interleave-gate",
        action="store_true",
        help="drop image-farm/gallery/prose-free docs on the nested "
        "span table before extraction (zero-shuffle structural gate)",
    )
    ap.add_argument(
        "--template-cap",
        type=int,
        default=None,
        metavar="K",
        help="cap each structural template to K deterministic members "
        "before extraction (template_sample — template-farm mass "
        "bounded without deleting the template; keep-set decided on "
        "the tiny fingerprint projection, applied as a left-semi "
        "join). Costs up to two accounting count() scans",
    )
    ap.add_argument(
        "--media-dedup-tau",
        type=float,
        default=None,
        metavar="TAU",
        help="drop non-representative members of media-set duplicate "
        "clusters (media_dup_clusters at this Jaccard threshold — "
        "gallery re-posts keep one copy). The drop set is "
        "materialized once (localCheckpoint) and anti-joined; "
        "normalize refs with --media-key",
    )
    ap.add_argument(
        "--media-key",
        default="media_ref",
        metavar="SQL",
        help="SQL expression normalizing media_ref to an asset key "
        "for --media-dedup-tau (e.g. strip CDN prefixes/size "
        "suffixes); default: the raw ref",
    )
    ap.add_argument(
        "--emit-structure",
        default=None,
        metavar="DIR",
        help="also write document-structure sidecars derived from the "
        "shaped span table: DIR/caption_pairs (media<->caption "
        "attachment), DIR/section_paths (heading-context breadcrumbs), "
        "DIR/media_context (nearest-prose window per media span), "
        "DIR/templates (corpus census of content-blind structural "
        "fingerprints — template-farm detection), DIR/media_pairs "
        "(gallery re-posts: exact Jaccard over distinct media-asset "
        "sets) and DIR/tables (per-table shape census). The first "
        "three are zero-shuffle scan-stage operators; templates adds "
        "one grouped pass, media_pairs a df-capped key equi-join",
    )
    ap.add_argument(
        "--emit-rendered",
        default=None,
        metavar="DIR",
        help="also write DIR/rendered: each document's ordered span "
        "sequence materialized into the tokenizer-ready string "
        "(render_interleaved — media spans become the placeholder "
        "token). Zero shuffle, one scan-stage pass",
    )
    ap.add_argument(
        "--emit-chunks",
        default=None,
        metavar="DIR",
        help="also write DIR/chunks: the shaped span table cut into "
        "multimodal training windows (chunk_interleaved — spans "
        "atomic, media at a fixed token cost, budget-aligned "
        "boundaries). One extra pruned pass: explode + one doc_id "
        "window shuffle",
    )
    ap.add_argument(
        "--chunk-tokens",
        type=int,
        default=2048,
        help="training-window token budget for --emit-chunks",
    )
    ap.add_argument(
        "--media-token-cost",
        type=int,
        default=None,
        help="per-media-span token cost for --emit-chunks (default: "
        "the library-wide interleave.MEDIA_TOKEN_COST)",
    )
    ap.add_argument(
        "--pack-slots",
        type=int,
        default=None,
        metavar="K",
        help="with --emit-chunks: also write DIR/packs, the chunks "
        "slot-packed K whole chunks per training sequence "
        "(pack_interleaved — media-atomic, seq_len = K * "
        "--chunk-tokens; overflow chunks isolated one-per-pack)",
    )
    ap.add_argument(
        "--chunk-cost",
        choices=("ws", "bpe"),
        default="ws",
        help="text-span cost model for --emit-chunks/--verify-chunks: "
        "'ws' = whitespace tokens (the library default), 'bpe' = the "
        "trained tokenizer's count (bpe_merges.py) — what a training "
        "budget actually measures; same chunker skeleton, swapped "
        "scan-stage cost expression",
    )
    ap.add_argument(
        "--verify-chunks",
        action="store_true",
        help="with --emit-chunks: after the chunk sidecar is written, "
        "re-read it and audit span/media/token conservation per "
        "document against the shaped span table (chunk_integrity). "
        "Fails the job if any document is unaccounted for, catching "
        "corruption between chunking and commit. Runs after packing "
        "and fails only after the summary line is printed",
    )
    def _strip_n(v: str) -> int:
        n = int(v)
        if n < 0 or n == 1:
            # fail at parse time, not mid-job after the gate scans ran
            raise argparse.ArgumentTypeError(
                "must be 0 (off) or >= 2 (1 would strip every "
                "candidate — a span/passage seen once is 'shared' "
                "with itself)"
            )
        return n

    ap.add_argument(
        "--strip-boilerplate",
        type=_strip_n,
        default=0,
        help="remove text spans recurring in >= N distinct docs "
        "before text assembly (0 = off, else >= 2)",
    )
    ap.add_argument(
        "--strip-passages",
        type=_strip_n,
        default=0,
        help="ExactSubstr-style cut of character windows shared by "
        ">= N distinct docs (per window, one canonical occurrence "
        "survives — overlapping DIFFERENT passages can erode each "
        "other's canonicals, see remove_repeated_passages; 0 = off, "
        "else >= 2) — runs last in the scrub chain, before every "
        "content-hash stage",
    )
    ap.add_argument(
        "--pack-seq-len",
        type=int,
        default=0,
        help="also emit <output>_chunks and <output>_pack_index "
        "training-loader sidecars packing N-token sequences; 0 = off",
    )
    ap.add_argument("--pack-chunk-tokens", type=int, default=256)
    ap.add_argument("--pack-chunk-overlap", type=int, default=32)
    ap.add_argument("--pack-shards", type=int, default=64)
    ap.add_argument("--max-bucket", type=int, default=1000, help="LSH band bucket cap; 0 = off")
    ap.add_argument("--n-buckets", type=int, default=16, help="output bucket count")
    ap.add_argument(
        "--mixture-weights",
        default=None,
        help="JSON {source: weight}; with --mixture-budget, emit the "
        "executed training mix as the <output>_mix sidecar "
        "(doc_id, source, epoch) over the curated table — fails "
        "loudly if a weighted source has no curated survivors",
    )
    ap.add_argument(
        "--mixture-budget",
        type=int,
        default=0,
        help="total training token budget for --mixture-weights",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    # mixture knobs fail at parse time, not after the whole funnel ran
    mixture_weights = None
    if args.mixture_weights or args.mixture_budget:
        if not (args.mixture_weights and args.mixture_budget > 0):
            ap.error(
                "--mixture-weights and --mixture-budget (> 0) must be "
                "given together"
            )
        try:
            mixture_weights = json.loads(args.mixture_weights)
        except ValueError as exc:
            ap.error(f"--mixture-weights is not valid JSON: {exc}")
        if not isinstance(mixture_weights, dict) or not mixture_weights:
            ap.error("--mixture-weights must be a non-empty JSON object")
        from ocr_spark.functions.sampling import _mixture_targets

        try:
            _mixture_targets(mixture_weights, args.mixture_budget)
        except (TypeError, ValueError) as exc:
            # TypeError: a non-numeric weight value (e.g. "x", null, a
            # list) survives json.loads and only fails in the >= 0
            # compare — still a usage error, not a traceback
            ap.error(str(exc))

    # sidecar knobs fail at parse time, not after the whole funnel ran
    if args.pack_slots is not None:
        if not args.emit_chunks:
            ap.error("--pack-slots requires --emit-chunks")
        if args.pack_slots < 1:
            ap.error("--pack-slots must be >= 1")
    if args.verify_chunks and not args.emit_chunks:
        ap.error("--verify-chunks requires --emit-chunks")
    if args.chunk_cost != "ws" and not args.emit_chunks:
        ap.error("--chunk-cost requires --emit-chunks")

    # packing knobs fail at parse time, not after the whole funnel ran
    if args.pack_seq_len < 0:
        ap.error("--pack-seq-len must be >= 0")
    if args.pack_seq_len > 0:
        from ocr_spark.functions.chunking import _validate as _chunk_validate
        from ocr_spark.functions.packing import _validate as _pack_validate

        try:
            _chunk_validate(args.pack_chunk_tokens, args.pack_chunk_overlap)
            _pack_validate(args.pack_seq_len, args.pack_shards)
        except ValueError as exc:
            ap.error(str(exc))

    from pyspark.sql import functions as F

    from ocr_spark.functions.dedup import dup_clusters, exact_dedup, novel_docs
    from ocr_spark.functions.sampling import (
        cap_per_group,
        dataset_split,
        pack_shards_global,
        temperature_mix,
        weighted_sample,
    )
    from ocr_spark.functions.contamination import contamination
    from ocr_spark.functions.scrub import gopher_rules, line_dedup, pii_scrub
    from ocr_spark.functions.unicode_norm import normalize_nfc
    from ocr_spark.functions.dsir import dsir_weights
    from ocr_spark.functions.lm import bigram_lm_score
    from ocr_spark.functions.text import lang_id, quality_score
    from ocr_spark.pipeline.extract import extract_main_content
    from ocr_spark.pipeline.session import get_spark
    from ocr_spark.pipeline.writer import ResultsWriter
    from ocr_spark.sources.synth import synthesize_spans

    spark = get_spark(args.master, app_name="ocr_spark_curate")

    # per-stage wall-clock: each count (or write) is the stage's
    # barrier, so the delta since the previous barrier is what the
    # stage actually cost — emitted in the summary line for soak runs
    import time as _time

    stage_secs: dict[str, float] = {}
    _t_last = _time.time()

    def _tick(stage: str) -> None:
        nonlocal _t_last
        now = _time.time()
        stage_secs[stage] = round(now - _t_last, 3)
        _t_last = now

    docs = spark.read.parquet(args.input)
    # fail fast (metadata-only schema check) for every stage that will
    # need a source column — not after the whole funnel ran
    _needs_source = [
        flag
        for flag, on in (
            ("--cap-per-source", args.cap_per_source > 0),
            ("--temperature-mix", bool(args.temperature_mix)),
            ("--mixture-weights", mixture_weights is not None),
        )
        if on
    ]
    if _needs_source and "source" not in docs.columns:
        raise SystemExit(
            f"{'/'.join(_needs_source)} need an input with a source column"
        )
    if args.synthesize:
        docs = synthesize_spans(docs)

    # 0.5 input shaping on the NESTED table — before the kernel, so
    # quarantined, gated, capped and re-posted documents never pay for
    # extraction. Each stage's drop count is its output count taken
    # from the previous count; the counts cost one scan each, only
    # when their stage is on. `extra` holds the summary keys of the
    # stages that exist only as options (absent when they are off).
    extra: dict = {}
    if args.integrity_gate:
        from ocr_spark.functions.interleave import span_integrity

        # violator set is tiny: materialize it ONCE (localCheckpoint)
        # so the audit folds don't re-execute in each of the two joins
        bad_ids = (
            span_integrity(docs)
            .where(~F.col("ok"))
            .select("doc_id")
            .localCheckpoint()
        )
        docs.join(bad_ids, "doc_id", "left_semi").write.mode(
            "overwrite"
        ).parquet(args.integrity_gate)
        # read-back count: the write above is the one audit execution;
        # counting the source df again would re-run the folds
        extra["n_quarantined"] = spark.read.parquet(args.integrity_gate).count()
        if extra["n_quarantined"]:
            docs = docs.join(bad_ids, "doc_id", "left_anti")
    # n_input counts the documents entering the structural gate
    n_input = n_structural = None
    if args.interleave_gate:
        from ocr_spark.functions.interleave import interleave_gate

        n_input = docs.count()
        docs = interleave_gate(docs)
        n_structural = docs.count()
    if args.template_cap is not None:
        from ocr_spark.functions.interleave import template_sample

        n_pre = n_structural if n_structural is not None else docs.count()
        docs = template_sample(docs, max_per_template=args.template_cap)
        extra["n_template_dropped"] = n_pre - docs.count()
    if args.media_dedup_tau is not None:
        from ocr_spark.functions.media import media_dup_clusters

        # the drop set (cluster members minus the rep) is tiny by
        # construction: materialize ONCE so the LSH/pair pipeline
        # does not re-run in the anti-join
        non_reps = (
            media_dup_clusters(
                docs, tau=args.media_dedup_tau, key_sql=args.media_key
            )
            .where(F.col("doc_id") != F.col("cluster_rep"))
            .select("doc_id")
            .localCheckpoint()
        )
        extra["n_media_dup_dropped"] = non_reps.count()
        if extra["n_media_dup_dropped"]:
            docs = docs.join(non_reps, "doc_id", "left_anti")

    # 1. extract: stripped span stream -> one text per doc (order-safe:
    # spans are emitted in reading order by the kernel, and the
    # concat_ws(sort_array) re-asserts it deterministically).
    # doc_id stays the ORIGINAL id throughout: the operator layer is
    # id-type-agnostic (int or string ids group/join natively), so the
    # previous xxhash64 surrogate — and its silent 64-bit birthday
    # collision risk at corpus scale — is gone.
    spans = extract_main_content(docs)
    # 1.2 corpus-frequency boilerplate strip on the flat stream — the
    # data-driven complement to the kernel's kind-heuristic strip;
    # runs BEFORE text assembly so nav/footer text the layout failed
    # to label never reaches the content hashes or the quality gates.
    raw_spans = None
    if args.strip_boilerplate > 0:
        from ocr_spark.functions.interleave import strip_frequent_flat

        # persist: the strip consumes spans TWICE (frequency count +
        # anti-join probe) — without the cache the Arrow kernel, the
        # job's dominant stage, would execute twice
        raw_spans = spans.persist()
        spans = strip_frequent_flat(raw_spans, min_docs=args.strip_boilerplate)
    corpus = (
        spans.where(F.col("text") != "")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("offset"), F.col("text")))
                    ),
                    lambda s: s["text"],
                ),
            ).alias("text")
        )
        .persist()
    )
    n_extracted = corpus.count()
    _tick("extract")
    if raw_spans is not None:
        # corpus is materialized; drop the kernel-output cache
        raw_spans.unpersist()

    # 1.4 scrubbing FIRST — before every content-hash stage (novelty
    # gate md5, exact/near dedup, decontamination shingles). Scrubbing
    # later would (a) let two docs differing only in redacted PII
    # survive dedup as "distinct", and (b) break --against re-runs:
    # the stored curated table carries SCRUBBED text, so the novelty
    # md5 must be computed over scrubbed text too or every re-crawled
    # PII-bearing doc would pass as novel and be written again.
    def _scrub(frame):
        if args.nfc:
            # FIRST: the line-dedup hash and PII regexes must see
            # canonical bytes, and two spellings of one doc must
            # reach every later hash identical
            frame = normalize_nfc(frame).drop("changed")
        if args.line_dedup:
            frame = line_dedup(frame).select(
                "doc_id", F.col("clean_text").alias("text")
            )
        if args.pii_scrub:
            frame = pii_scrub(frame).select(
                "doc_id", F.col("clean_text").alias("text")
            )
        if args.strip_passages > 0:
            # cross-doc ExactSubstr cut pass LAST in the scrub chain:
            # it must see the same bytes every later content-hash
            # stage sees, and the earlier per-doc scrubs must not
            # re-introduce passages it already cut
            from ocr_spark.functions.scrub import remove_repeated_passages

            frame = remove_repeated_passages(
                frame, min_docs=args.strip_passages
            ).select("doc_id", "text")
        return frame

    if (
        args.nfc
        or args.line_dedup
        or args.pii_scrub
        or args.strip_passages > 0
    ):
        extracted_raw = corpus
        corpus = _scrub(corpus).persist()
        corpus.count()
        # scrubbed corpus is materialized — drop the raw extraction
        # cache instead of pinning both copies for the whole job
        extracted_raw.unpersist()

    # 1.5 novelty gate: only docs absent from the existing corpus
    if args.against:
        existing = spark.read.parquet(args.against).select("text")
        pre_novelty = corpus
        corpus = novel_docs(corpus, existing).persist()
        n_novel = corpus.count()
        _tick("novelty")
        pre_novelty.unpersist()
    else:
        n_novel = n_extracted

    # 1.7 benchmark decontamination: drop docs overlapping the eval
    # set (broadcast benchmark shingle hashes + short-item containment;
    # see functions/contamination). The benchmark text is scrubbed
    # IDENTICALLY to the corpus — otherwise w-grams spanning a redacted
    # email/phone could never match and the leak would survive.
    n_decontam = n_novel
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark).select("text")
        if args.nfc or args.line_dedup or args.pii_scrub:
            bench = _scrub(bench.withColumn("doc_id", F.lit(0))).select("text")
        flagged = (
            contamination(
                corpus, bench, w=args.contam_w, min_overlap=args.contam_overlap
            )
            .where(F.col("contaminated"))
            .select("doc_id")
        )
        pre_decontam = corpus
        corpus = corpus.join(flagged, "doc_id", "left_anti").persist()
        n_decontam = corpus.count()
        _tick("decontam")
        pre_decontam.unpersist()

    # 2. quality + language gates
    q = quality_score(corpus).select("doc_id", "quality")
    gated = corpus.join(q, "doc_id").where(F.col("quality") >= args.min_quality)
    langs = [s.strip() for s in args.langs.split(",") if s.strip()]
    if langs:
        lid = lang_id(corpus).select("doc_id", "lang_pred")
        gated = gated.join(lid, "doc_id").where(F.col("lang_pred").isin(langs))
    if args.gopher:
        g = gopher_rules(corpus).select("doc_id", "keep")
        gated = gated.join(g, "doc_id").where(F.col("keep")).drop("keep")
    if args.encoding_gate:
        from ocr_spark.functions.unicode_norm import encoding_profile

        # scan-stage signals, per-doc only — score just the docs still
        # gated (the classifier-gate costing argument). Runs on the
        # SCRUBBED text: PII redaction/line-dedup never introduce the
        # damage classes, so gating here equals gating the raw text
        # while sharing the cached corpus scan.
        eg = encoding_profile(gated.select("doc_id", "text")).select(
            "doc_id", F.col("suspect").alias("_enc")
        )
        gated = gated.join(eg, "doc_id").where(~F.col("_enc")).drop("_enc")
    if args.classifier_gate:
        from ocr_spark.functions.classifier import quality_classifier

        # per-doc model, no corpus statistics — score only the docs
        # still gated (the dsir-gate costing argument)
        cg = quality_classifier(gated.select("doc_id", "text")).select(
            "doc_id", F.col("keep").alias("_clf")
        )
        gated = gated.join(cg, "doc_id").where(F.col("_clf")).drop("_clf")
    if args.min_lm_fluency > 0:
        # self-LM over the scrubbed corpus; mean = integer div so the
        # gate is exact (greatest(n,1): 0-transition docs score 0 and
        # fail any positive threshold — single-word docs carry no
        # fluency evidence)
        flu = bigram_lm_score(corpus).select(
            "doc_id",
            F.expr(
                "sum_scaled div greatest(n_bigrams, CAST(1 AS BIGINT))"
            ).alias("_flu"),
        )
        gated = (
            gated.join(flu, "doc_id")
            .where(F.col("_flu") >= args.min_lm_fluency)
            .drop("_flu")
        )
    if args.dsir_target:
        # importance toward the target domain against the corpus
        # background; mean-per-feature so the gate is length-free
        # (featureless <2-word docs score 0 div 1 = 0). Score only the
        # docs still gated — the count tables come from target/corpus
        # either way, so survivors' scores are identical, but only the
        # survivors pay the per-doc feature explode.
        target = spark.read.parquet(args.dsir_target).select("text")
        dw = dsir_weights(
            gated.select("doc_id", "text"), target, raw=corpus
        ).select(
            "doc_id",
            F.expr(
                "score_scaled div greatest(n_feats, CAST(1 AS BIGINT))"
            ).alias("_dsir"),
        )
        gated = (
            gated.join(dw, "doc_id")
            .where(F.col("_dsir") >= args.min_dsir_score)
            .drop("_dsir")
        )
    gated = gated.select("doc_id", "text").persist()
    n_gated = gated.count()
    _tick("gates")

    # 3. dedup: exact content hash, then LSH-verified near-dups (the
    # kept representative per dup group is the minimum doc_id by the
    # id type's natural order — arbitrary but deterministic)
    reps = exact_dedup(gated).select(F.col("rep_doc_id").alias("doc_id"))
    survivors = gated.join(reps, "doc_id").persist()
    n_exact = survivors.count()
    _tick("exact_dedup")
    clusters = dup_clusters(survivors, tau=args.tau, max_bucket=args.max_bucket or None)
    losers = clusters.where(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    # persist: every later stage (cap join, quality-sample SELF-join,
    # split, shard join, write) re-reads this frame, and its lineage
    # contains the costliest stage in the job (LSH + verify + CC)
    curated = (
        survivors.join(losers, "doc_id", "left_anti")
        .select("doc_id", "text")
        .persist()
    )
    curated_base = curated  # later stages reassign `curated`; keep the
    n_curated = curated.count()  # cached handle for the final unpersist
    _tick("near_dedup")

    # 5. optional per-source balancing (hard cap and/or temperature
    # mix). The source column lives on the flat input table; joined
    # back by doc_id and kept in the output so downstream mixes can
    # weight by it.
    def _with_source(frame):
        if "source" in frame.columns:
            return frame
        src = spark.read.parquet(args.input)
        if "source" not in src.columns:
            raise SystemExit(
                "--cap-per-source/--temperature-mix/--mixture-weights "
                "need an input with a source column"
            )
        # two silent-corruption guards on the lookup side:
        # - cast src's doc_id to curated's id type (the synthesize
        #   path carries STRING ids; joining string to int64 coerces
        #   both to DOUBLE and ids >= 2^53 collide silently);
        # - collapse duplicate doc_id rows (min(source) — arbitrary
        #   but deterministic) so a per-span or re-ingested input
        #   can't fan curated rows out k-fold and cap spans, not docs.
        id_type = dict(frame.dtypes)["doc_id"]
        src = (
            src.select(F.col("doc_id").cast(id_type).alias("doc_id"), "source")
            .groupBy("doc_id")
            .agg(F.min("source").alias("source"))
        )
        return frame.join(src, "doc_id")

    n_capped = n_curated
    if args.cap_per_source > 0:
        curated = cap_per_group(
            _with_source(curated), "source", args.cap_per_source
        )
        n_capped = curated.count()
        _tick("cap")

    # 5.2 optional temperature mix: n^0.5 source rebalancing AFTER the
    # hard cap (the cap bounds pathological domains; the mix then
    # shapes the survivors toward the target budget)
    n_mixed = n_capped
    if args.temperature_mix > 0:
        curated = temperature_mix(
            _with_source(curated), budget_frac=args.temperature_mix
        )
        n_mixed = curated.count()
        _tick("temperature_mix")

    # 5.5 optional quality-weighted downsampling: AFTER dedup/cap (a
    # sampled-out doc must not resurrect its near-duplicates, and cap
    # quotas should fill before thinning), keep probability
    # min(1, quality * F) on the FINAL curated text (scan-stage
    # re-derivation — cheaper than carrying the column through joins)
    n_sampled = n_mixed
    if args.quality_sample > 0:
        qw = quality_score(curated.select("doc_id", "text")).select(
            "doc_id", "quality"
        )
        # weighted_sample clamps to [0, 1] internally — pass the bare
        # product so the clamp rule lives in exactly one place
        curated = weighted_sample(
            curated.join(qw, "doc_id"),
            F.col("quality") * F.lit(args.quality_sample),
        ).drop("quality")
        n_sampled = curated.count()
        _tick("quality_sample")

    # 6. optional deterministic split column
    if args.split:
        weights = {}
        for part in args.split.split(","):
            name, _, w = part.partition("=")
            weights[name.strip()] = float(w)
        curated = dataset_split(curated, weights)

    # 6.5 optional global shard assignment for training loaders
    # (distributed prefix sum — see sampling.pack_shards_global)
    if args.shard_budget > 0:
        shards = pack_shards_global(
            curated, budget_tokens=args.shard_budget
        ).select("doc_id", "shard_id")
        curated = curated.join(shards, "doc_id")

    # 7. curated table in the standard bucketed layout
    ResultsWriter(spark, path=args.output, n_buckets=args.n_buckets).write(curated)
    _tick("split_shard_write")

    # 9.5 optional training-loader sidecars: chunk text co-located by
    # pack shard + the concat-then-cut sample index (one shared shard
    # definition — packing.shard_col — so a loader's per-shard read
    # of both sidecars is partition-pruned and self-consistent)
    n_chunks = n_packs = None
    if args.pack_seq_len > 0:
        from ocr_spark.functions.chunking import chunk_documents
        from ocr_spark.functions.packing import pack_index, shard_col

        # chunk from the table just written, not the live `curated`
        # lineage — re-deriving it would re-run the whole funnel
        # (extraction, gates, dedup joins) a second time
        written = spark.read.parquet(args.output)
        chunks = chunk_documents(
            written,
            max_tokens=args.pack_chunk_tokens,
            overlap=args.pack_chunk_overlap,
        ).withColumn("shard", shard_col(args.pack_shards)).persist()
        chunks.write.mode("overwrite").partitionBy("shard").parquet(
            args.output.rstrip("/") + "_chunks"
        )
        idx = pack_index(
            chunks, seq_len=args.pack_seq_len, n_shards=args.pack_shards
        ).persist()
        idx.write.mode("overwrite").partitionBy("shard").parquet(
            args.output.rstrip("/") + "_pack_index"
        )
        n_chunks = chunks.count()
        n_packs = idx.select("shard", "pack_id").distinct().count()
        _tick("pack")
        chunks.unpersist()
        idx.unpersist()

    # 9.6 mixture: the EXECUTED training mix as a loader sidecar —
    # (doc_id, source, epoch) rows over the table just written (same
    # read-back rule as packing: never re-run the funnel lineage).
    # check_coverage=True: in a one-shot job, a weighted source whose
    # docs were all curated away must fail, not silently lose its
    # budget share.
    n_mix = None
    if mixture_weights is not None:
        from ocr_spark.functions.sampling import apply_mixture

        written_mix = spark.read.parquet(args.output)
        mix = apply_mixture(
            _with_source(written_mix),
            mixture_weights,
            args.mixture_budget,
            check_coverage=True,
        ).select("doc_id", "source", "epoch")
        mix.write.mode("overwrite").parquet(args.output.rstrip("/") + "_mix")
        n_mix = spark.read.parquet(args.output.rstrip("/") + "_mix").count()
        _tick("mixture")

    # 9.7 span-table sidecars over the stage-0.5 table; under
    # --pii-scrub they read it redacted per text span, so nothing this
    # job writes carries unredacted PII (the kernel input stays as is)
    chunks_bad = 0
    if args.emit_structure or args.emit_rendered or args.emit_chunks:
        span_table = docs
        if args.pii_scrub:
            from ocr_spark.functions.scrub import scrub_spans

            span_table = scrub_spans(docs)
        chunks_bad = _write_span_sidecars(spark, args, span_table, extra)
        _tick("sidecars")

    print(
        json.dumps(
            {
                "n_input": n_input,
                "n_after_interleave_gate": n_structural,
                "dropped_structural": (
                    n_input - n_structural if n_input is not None else None
                ),
                "n_extracted": n_extracted,
                "n_novel": n_novel,
                "n_after_decontam": n_decontam,
                "dropped_contaminated": n_novel - n_decontam,
                "n_after_quality_lang": n_gated,
                "n_after_exact_dedup": n_exact,
                "n_curated": n_curated,
                "n_after_cap": n_capped,
                "n_after_temperature_mix": n_mixed,
                "dropped_temperature_mix": n_capped - n_mixed,
                "temperature_mix": args.temperature_mix,
                "n_after_quality_sample": n_sampled,
                "dropped_not_novel": n_extracted - n_novel,
                "dropped_quality_lang": n_decontam - n_gated,
                "dropped_exact": n_gated - n_exact,
                "dropped_near_dup": n_exact - n_curated,
                "dropped_cap": n_curated - n_capped,
                "dropped_quality_sample": n_mixed - n_sampled,
                "min_quality": args.min_quality,
                "langs": langs,
                "tau": args.tau,
                "cap_per_source": args.cap_per_source,
                "split": args.split,
                "pii_scrub": args.pii_scrub,
                "strip_passages": args.strip_passages,
                "line_dedup": args.line_dedup,
                "nfc": args.nfc,
                "gopher": args.gopher,
                "encoding_gate": args.encoding_gate,
                "min_lm_fluency": args.min_lm_fluency,
                "dsir_target": bool(args.dsir_target),
                "min_dsir_score": args.min_dsir_score,
                "interleave_gate": args.interleave_gate,
                "strip_boilerplate": args.strip_boilerplate,
                "quality_sample": args.quality_sample,
                "shard_budget": args.shard_budget,
                "pack_seq_len": args.pack_seq_len,
                "n_chunks": n_chunks,
                "n_packs": n_packs,
                "n_mix_rows": n_mix,
                "stage_secs": stage_secs,
                **extra,
            }
        )
    )
    # the chunk audit fails only after the full accounting is printed
    if chunks_bad:
        raise SystemExit(
            f"chunk integrity audit FAILED for {chunks_bad} document(s)"
        )
    for df in (corpus, gated, survivors, curated_base):
        df.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
