"""PDF / layout parsing (north_rule clause: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics" — BASELINE.json:14).

The decode step is REAL for the text subset of PDF 1.4: the pure-
stdlib parser in :mod:`..kernel.pdfmini` scans objects (no xref
needed), slices streams by /Length, inflates FlateDecode (zlib is
stdlib), and executes the text operators (BT/ET, Tf, Td/TD/Tm/T*/TL,
Tj/TJ/'/") into positioned runs. ``synth_pdfs`` emits spec-valid PDFs
(correct xref + trailer, mixed Flate/plain streams) so the whole path
is exercised end-to-end without any external library. Features beyond
the subset (encryption, object streams, CID fonts, non-Flate filters)
degrade to a ``parse_error`` row, never an exception — same discipline
as HTML extraction. Rendering parsers (pdfium, mupdf) are not in this
container (SURVEY.md §0), so this parser is the only one.

Layout step: runs group into blocks on vertical gaps (> 1.6 x font
size), classified header/body/footer by page-height fraction. The
block table feeds the SAME downstream contract as HTML extraction:
body blocks concatenate in reading order into ``extracted_text``.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..kernel import pdfmini
from ..kernel.pdfmini import PdfError
from ..sources.io import row_batcher

PDF_SCHEMA = "doc_id long, payload binary, n_pages int"

BLOCK_SCHEMA = (
    "doc_id long, page int, block_idx int, kind string, "
    "x0 float, y0 float, x1 float, y1 float, text string, failure string"
)

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()


def synth_pdfs(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic REAL PDFs: 1-4 pages, header/body/footer runs at
    plausible positions, every other doc Flate-compressed."""
    import random

    rows = []
    for i in range(n):
        rnd = random.Random((seed << 16) ^ i)
        n_pages = 1 + i % 4
        pages = []
        for p in range(n_pages):
            runs = [(72.0, 755.0, 10.0, f"header doc{i} page{p}")]
            y = 700.0
            for line in range(rnd.randint(2, 6)):
                words = " ".join(rnd.choice(_WORDS) for _ in range(rnd.randint(4, 9)))
                runs.append((72.0, y, 12.0, words))
                y -= 14.0
            runs.append((72.0, 30.0, 8.0, f"footer {i}-{p}"))
            pages.append(runs)
        rows.append(
            (i, bytearray(pdfmini.build_pdf(pages, compress=bool(i % 2))), n_pages)
        )
    return spark.createDataFrame(rows, PDF_SCHEMA)


def _mini_layout(doc_id: int, payload: bytes) -> list[tuple]:
    """Real parse → blocks. Pathological payloads yield ONE failure row
    (never an exception — an escape would kill the Arrow batch)."""
    try:
        pages = pdfmini.parse_pdf(bytes(payload))
    except PdfError as exc:
        return [(doc_id, -1, -1, "error", 0.0, 0.0, 0.0, 0.0, "",
                 f"parse_error: {exc}")]
    except Exception:
        return [(doc_id, -1, -1, "error", 0.0, 0.0, 0.0, 0.0, "",
                 "parse_error")]
    out = []
    for page_no, page in enumerate(pages):
        height = page["height"] or 792.0
        runs = sorted(page["runs"], key=lambda r: (-r[1], r[0]))
        blocks: list[list] = []
        for run in runs:
            if blocks and (blocks[-1][-1][1] - run[1]) <= 1.6 * max(
                run[2], blocks[-1][-1][2]
            ):
                blocks[-1].append(run)
            else:
                blocks.append([run])
        for b_idx, block in enumerate(blocks):
            xs0 = min(r[0] for r in block)
            ys0 = min(r[1] for r in block)
            xs1 = max(r[0] + 0.5 * r[2] * len(r[3]) for r in block)
            ys1 = max(r[1] + r[2] for r in block)
            if ys0 >= 0.92 * height:
                kind = "header"
            elif ys1 <= 0.08 * height:
                kind = "footer"
            else:
                kind = "body"
            text = " ".join(r[3] for r in block)
            out.append((
                doc_id, page_no, b_idx, kind,
                float(xs0), float(ys0), float(xs1), float(ys1), text, None,
            ))
    return out


def parse_layout(df: DataFrame) -> DataFrame:
    """pdf rows → (page, block) rows via mapInArrow. One shuffle-free
    pass; geometry/kind columns are typed so downstream filters prune
    without touching payloads."""
    to_batch = row_batcher(BLOCK_SCHEMA)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            rows: list[tuple] = []
            for doc_id, payload in zip(
                batch.column("doc_id").to_pylist(),
                batch.column("payload").to_pylist(),
            ):
                rows.extend(_mini_layout(doc_id, payload))
            yield to_batch(rows)

    return df.select("doc_id", "payload").mapInArrow(batches, BLOCK_SCHEMA)


def extract_pdf_text(blocks: DataFrame) -> DataFrame:
    """Blocks → (doc_id, extracted_text, spans): body blocks in reading
    order (page, then top-down), same output contract as HTML
    extraction. Pure JVM: window-free groupBy with sorted collect."""
    body = blocks.filter(F.col("kind") == "body")
    agg = body.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("page", F.expr("CAST(-y0 AS float) AS neg_y0"),
                                    "block_idx", "text"))
        ).alias("blocks")
    )
    return agg.select(
        "doc_id",
        F.array_join(F.expr("transform(blocks, b -> b.text)"), "\n").alias(
            "extracted_text"
        ),
        F.expr(
            "transform(blocks, (b, i) -> struct("
            "b.page as page, i as block_order, b.text as text))"
        ).alias("spans"),
    )
