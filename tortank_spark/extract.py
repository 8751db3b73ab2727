"""Vectorized extraction stage — the engine's "scan".

Every per-page extractor runs as ONE Arrow-batched ``mapInArrow``
stage over the page table, built by ``_arrow_stage``: the whole
reference parse pipeline (grammar rules P1-P24, SURVEY.md §2.2) for
Turtle, and the JSON-LD / RDFa / microdata / out-link scanners of the
sibling modules. State is document-scoped (prefix redefinition
mid-doc, turtle_doc.rs:489-540) so a document is the natural unit of
work, and documents are rows. Arrow moves whole batches JVM<->Python
and the output columns are built straight from python lists, with no
pandas conversion on either side; the per-doc parse is pure Python
but amortized across batches — there is no per-row Python UDF
dispatch.

``PARSERS`` is the per-page parser registry, one
``fn(text, bnode_prefix) -> (triples, err)`` per syntax; each public
entry point is the shared stage plus its own per-page row shape.

Scale design (100 TB / 10^12 docs):
* embarrassingly parallel — no shuffle; parallelism = input splits.
  Column pruning reaches the parquet scan (only url+text are read).
* blank-node labels are salted with sha1(url) so they are globally
  unique with zero coordination (partition-salted counters,
  SURVEY.md §4) while preserving the reference's per-doc allocation
  order.
* parse failures become quarantine rows (parse_ok=false, error) —
  never job failures.
"""

from __future__ import annotations

import hashlib
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType
import pyspark.sql.functions as F

from .grammar.turtle import parse_document
from .jsonld import extract_jsonld_triples
from .microdata import extract_microdata_triples
from .rdfa import extract_rdfa_triples
from .schema import (DOC_METRICS_SCHEMA, EMBEDDED_SCHEMA, EXTRACT_SCHEMA,
                     TRIPLE_COLS, TRIPLE_SCHEMA)

PARSERS = {
    "turtle": parse_document,
    "jsonld": extract_jsonld_triples,
    "rdfa": extract_rdfa_triples,
    "microdata": extract_microdata_triples,
}

# extract_embedded's conservative per-syntax dispatch (guide §1.2
# "per-task work"): each scanner can only ever emit when one of its
# trigger tokens occurs somewhere in the page — JSON-LD islands need a
# (case-insensitive) 'application/ld+json' script type, every RDFa
# emission requires a property= or typeof= attribute, every microdata
# emission an itemscope. A substring test over the lowered page is
# exactly conservative (false positives just run the scanner and emit
# nothing, false negatives are impossible), and skips 2-3 full HTML
# scans on the typical single-syntax page. Turtle has no trigger: it
# always runs.
_TRIGGERS = {
    "turtle": (),
    "jsonld": ("ld+json",),
    "rdfa": ("property", "typeof"),
    "microdata": ("itemscope",),
}

_NO_TRIPLE = (None,) * len(TRIPLE_COLS)


def _salt(url: str) -> str:
    return hashlib.sha1(url.encode("utf-8", "surrogatepass")).hexdigest()[:12] + "-"


def _arrow_stage(
    pages: DataFrame, text_col: str, schema: StructType, page_rows,
) -> DataFrame:
    """pages -> (url, ``text_col``) -> ONE ``mapInArrow`` stage whose
    output has ``schema``.

    ``page_rows(put, url, text)`` runs once per page (``text`` is never
    None) and reports its output rows through
    ``put(rows, head=(), tail=())``: each row becomes
    ``head + row + tail``, in schema column order. Accumulation is
    columnar — one python list per output column, extended column by
    column, which beats a list of full row tuples by ~2x on array
    construction; this is the per-triple hot path, measurably visible
    at 500k triples/batch. Building ``pa.array`` columns directly skips
    both pandas conversions a pandas-batched stage pays (~50 us/page
    measured on the ~4 KB filler corpus — guide §4.2: hand whole
    batches to the columnar layer, don't route them through pandas)."""
    names = schema.fieldNames()

    def run(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        types = [f.type for f in to_arrow_schema(schema)]
        for rb in batches:
            cols = [[] for _ in names]

            def put(rows, head=(), tail=()):
                n, k, m = len(rows), len(head), len(cols) - len(tail)
                for c, v in zip(cols, head):
                    c.extend([v] * n)
                for j in range(m - k):
                    cols[k + j].extend(r[j] for r in rows)
                for c, v in zip(cols[m:], tail):
                    c.extend([v] * n)

            for url, text in zip(
                rb.column(0).to_pylist(), rb.column(1).to_pylist()
            ):
                page_rows(put, url, text or "")
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=t) for c, t in zip(cols, types)], names)

    # explicit pruning to the scan: only url + text are read
    return pages.select("url", text_col).mapInArrow(run, schema=schema)


def _extract_rows(
    pages: DataFrame, parse, fixture_mode: bool, text_col: str = "text",
) -> DataFrame:
    """EXTRACT_SCHEMA rows of one per-page parser: one row per good
    triple, or — for a page whose parse fails or yields nothing — one
    quarantine row with a null triple, ``parse_ok = err is None`` and
    the error."""

    def page_rows(put, url, text):
        triples, err = parse(
            text, bnode_prefix="" if fixture_mode else _salt(url))
        if err is not None or not triples:
            put([_NO_TRIPLE], (url,), (err is None, err))
        else:
            put(triples, (url,), (True, None))

    return _arrow_stage(pages, text_col, EXTRACT_SCHEMA, page_rows)


def extract_triples(
    pages: DataFrame,
    fixture_mode: bool = False,
    seed_prefixes: dict | None = None,
    well_known_prefix: str | None = None,
) -> DataFrame:
    """pages(url, text, ...) -> raw extraction rows incl. quarantine rows.

    ``fixture_mode`` disables url-salting of blank-node labels so labels
    are the reference's deterministic per-doc counter ``_:1, _:2, ...``
    (turtle_doc.rs:33-51) — used by the fixture P/R harness.
    ``seed_prefixes`` (R10, turtle_doc.rs:264-283) and
    ``well_known_prefix`` (skolemization, turtle_doc.rs:733-747) are
    broadcast to every parser call as plain closure constants — tiny
    dicts ride the task closure; a huge external prefix table would use
    ``spark.sparkContext.broadcast`` instead.
    """
    parse = partial(parse_document, seed_prefixes=seed_prefixes,
                    well_known_prefix=well_known_prefix)
    return _extract_rows(pages, parse, fixture_mode)


def triples_only(extracted: DataFrame) -> DataFrame:
    """Keep good triple rows with the canonical triple schema."""
    return extracted.filter(F.col("parse_ok") & F.col("s").isNotNull()).select(
        *[f.name for f in TRIPLE_SCHEMA.fields]
    )


def doc_metrics(pages: DataFrame, fixture_mode: bool = False) -> DataFrame:
    """Per-document lineage/metrics rows: parse status, triple count,
    byte-fidelity witness (sha1 of text) — the per-row invariant of
    BASELINE.json input_hint is checked against this table.

    Standalone auditing entry point ONLY: it re-parses every document.
    A job that already runs extract_triples must derive its lineage
    from those extraction rows instead (as pipeline._run_bucket does) —
    calling both doubles the parse CPU for nothing."""

    def page_rows(put, url, text):
        triples, err = parse_document(
            text, bnode_prefix="" if fixture_mode else _salt(url))
        sha = hashlib.sha1(text.encode("utf-8", "surrogatepass")).hexdigest()
        put([(url, err is None, len(triples), err, sha, len(text))])

    return _arrow_stage(pages, "text", DOC_METRICS_SCHEMA, page_rows)


def extract_embedded(
    pages: DataFrame, fixture_mode: bool = False, text_col: str = "text",
) -> DataFrame:
    """Unified embedded-KG extraction — the north star's 'embedded
    RDFa/JSON-LD/Turtle in page text' as ONE operator. Every page is
    scanned once and run through the four ``PARSERS`` (Turtle grammar,
    JSON-LD island expansion, RDFa-Lite attribute scan, HTML microdata
    itemscope scan) whose trigger tokens it contains; the output is the
    union of each syntax's good triples tagged with
    ``syntax in ('turtle','jsonld','rdfa','microdata')``. A syntax's
    triples are emitted iff its parser returned no error.

    Single-pass by construction: one ``mapInArrow`` stage, so the
    page table is read ONCE (a DataFrame-level union of the four
    standalone extractors would scan 100 TB four times). A page may
    legitimately contribute triples in several syntaxes. Per-syntax
    quarantine semantics differ by design — a JSON-LD page is not a
    Turtle parse failure — so this operator emits good triples only;
    per-page parse auditing stays with the standalone extractors
    (extract_triples / jsonld.extract_jsonld / rdfa.extract_rdfa)."""

    def page_rows(put, url, text):
        prefix = "" if fixture_mode else _salt(url)
        low = text.lower()
        for syntax, parse in PARSERS.items():
            trig = _TRIGGERS[syntax]
            if not trig or any(t in low for t in trig):
                triples, err = parse(text, bnode_prefix=prefix)
                if err is None:
                    put(triples, (syntax, url))

    return _arrow_stage(pages, text_col, EMBEDDED_SCHEMA, page_rows)
