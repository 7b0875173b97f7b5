"""Correctness gate: per-doc span-sequence hashes against a spec.

Every document's output is reduced to one md5 over its ordered
``(kind, text, media_ref, offset)`` sequence; the same reduction is
applied to the spec's rows and the two are compared per doc.
``span_seq_equal_frac`` is the share of documents (input docs plus any
doc the program emitted) whose hashes agree. The specs:

- ``full_extract`` / ``daily_delta`` spans: the DuckDB twin of the
  span synthesizer (``synth_spans_sql``) with the default config's
  strip rule applied in SQL — furniture and link spans dropped, which
  is the whole effect of the default config on synthesized text (no
  link tokens, no doc near the truncation budget);
- ``skewed_extract``: the pandas kernel (``ocr_spark.kernel.extract``,
  the executable spec of the Arrow kernel), run in ``nproc`` processes;
- ``daily_delta`` state and dedup: ``doc_input_hash_sql`` over today's
  corpus and ``dedup_against_index_sql`` over the delta.
"""

from __future__ import annotations

import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa

_FIELDS = ("kind", "text", "media_ref")
STRIPPED_SYNTH_KINDS = ("page_header", "page_footer", "link")


def _span_ser(prefix: str = "") -> str:
    parts = [f"coalesce({prefix}{c}, chr(0))" for c in _FIELDS]
    parts.append(f'CAST(coalesce({prefix}"offset", -1) AS VARCHAR)')
    return "concat_ws(chr(30), " + ", ".join(parts) + ")"


def flat_doc_hashes_sql(rel: str) -> str:
    """(doc_id, h) over flat span rows, spans in offset order."""
    return (
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
        f'md5(string_agg({_span_ser()}, chr(31) ORDER BY "offset")) AS h '
        f"FROM {rel} GROUP BY 1"
    )


def nested_doc_hashes_sql(rel: str) -> str:
    """(doc_id, h) over (doc_id, spans list<struct>) rows, in list order."""
    ser = _span_ser("s.")
    return (
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
        f"md5(coalesce(array_to_string(list_transform(spans, s -> {ser}), chr(31)), '')) AS h "
        f"FROM {rel}"
    )


def synth_oracle_sql(docs_rel: str) -> str:
    """Flat expected rows for a synthesized flat-docs relation."""
    from ocr_spark.sources.synth import synth_spans_sql

    kinds = ", ".join(f"'{k}'" for k in STRIPPED_SYNTH_KINDS)
    return f"(SELECT * FROM ({synth_spans_sql(docs_rel)}) WHERE kind NOT IN ({kinds}))"


def connect() -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB that spills (if ever) under $TMPDIR."""
    con = duckdb.connect()
    tmp = os.environ.get("TMPDIR")
    if tmp:
        con.execute(f"SET temp_directory = '{tmp}'")
    return con


@dataclass
class Verdict:
    docs: int = 0
    equal_docs: int = 0
    problems: list[str] = field(default_factory=list)

    @property
    def span_seq_equal_frac(self) -> float:
        return self.equal_docs / self.docs if self.docs else 0.0

    @property
    def ok(self) -> bool:
        return self.docs > 0 and self.equal_docs == self.docs and not self.problems


def compare(con: duckdb.DuckDBPyConnection, got_sql: str, want_sql: str, ids_sql: str) -> Verdict:
    """Per-doc hash comparison over input ids ∪ emitted ids; a doc
    missing on one side compares as the empty sequence."""
    n, eq, bad = con.execute(
        f"""
        WITH g AS ({got_sql}), w AS ({want_sql}),
        u AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM ({ids_sql}) UNION SELECT doc_id FROM g),
        j AS (SELECT u.doc_id, coalesce(g.h, md5('')) = coalesce(w.h, md5('')) AS same
              FROM u LEFT JOIN g USING (doc_id) LEFT JOIN w USING (doc_id))
        SELECT count(*), count(*) FILTER (WHERE same),
               list(doc_id ORDER BY doc_id) FILTER (WHERE NOT same)[1:5]
        FROM j
        """
    ).fetchone()
    v = Verdict(int(n), int(eq))
    if bad:
        v.problems.append(f"span sequences differ for {n - eq} docs, e.g. {bad}")
    return v


def _pandas_spec_chunk(table: pa.Table) -> pa.Table:
    from ocr_spark.kernel.extract import DEFAULT_CONFIG, extract_flat
    from ocr_spark.schema import KIND_ERROR

    out = extract_flat(table.to_pandas(), DEFAULT_CONFIG)
    out = out[out["kind"] != KIND_ERROR][["doc_id", "kind", "text", "media_ref", "offset"]]
    return pa.Table.from_pandas(out, preserve_index=False)


def pandas_spec_rows(table: pa.Table, procs: int) -> pa.Table:
    """Flat expected rows from the pandas kernel, ``procs`` row chunks
    in parallel (docs are independent, so chunking is exact)."""
    step = -(-table.num_rows // procs)
    chunks = [table.slice(i, step) for i in range(0, table.num_rows, step)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(len(chunks), mp_context=ctx) as ex:
        parts = list(ex.map(_pandas_spec_chunk, chunks))
    return pa.concat_tables(parts)


def compare_sets(con: duckdb.DuckDBPyConnection, got_sql: str, want_sql: str, what: str) -> list[str]:
    """Set equality of two relations with the same columns."""
    extra, missing = con.execute(
        f"""
        SELECT (SELECT count(*) FROM (({got_sql}) EXCEPT ({want_sql}))),
               (SELECT count(*) FROM (({want_sql}) EXCEPT ({got_sql})))
        """
    ).fetchone()
    if extra or missing:
        return [f"{what} differ: {extra} unexpected, {missing} missing"]
    return []
