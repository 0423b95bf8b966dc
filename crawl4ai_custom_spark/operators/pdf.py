"""PDF processing over binary columns — the multimodal seam for documents.

Reference parity: processors/pdf/processor.py (page text + metadata). Spark
re-expression: one Arrow-batched mapInPandas stage over the pdf binary
column, same shape as operators/multimodal.py — the decode kernel
(kernel/pdfmini.py) is a real stdlib FlateDecode/Tj extractor, swappable
for pdfminer on clusters that have it.

One row shape serves both surfaces (whole-document text and the
reference PDFPage/PDFMetadata per-page structs, processor.py:25-49), so
each payload is parsed inside one Python stage and crosses Arrow once.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.pdfmini import pdf_metadata, pdf_page_count, pdf_pages, pdf_text

PDF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("page_number", IntegerType()),
        StructField("page_text", StringType()),
        StructField("n_images", IntegerType()),
        StructField("meta_pages", IntegerType()),
        StructField("title", StringType()),
        StructField("producer", StringType()),
        StructField("created", StringType()),
        StructField("encrypted", StringType()),
    ]
)
PDF_COLUMNS = [f.name for f in PDF_SCHEMA.fields]


def pdf_rows(items: Iterable[tuple[int, bytes]]) -> pd.DataFrame:
    """(media_id, payload) pairs -> PDF_SCHEMA rows. Per payload: the
    whole-document row (page_number 0, full text, page count in
    ``meta_pages``, n_images -1, metadata NULL), then one row per page with
    the /Info metadata fanned on (dates as ISO strings, encrypted as
    'true'/'false'). Columnar accumulation: a DataFrame from dict-of-lists
    is several times cheaper than from row dicts."""
    col: dict[str, list] = {c: [] for c in PDF_COLUMNS}
    for mid, payload in items:
        col["media_id"].append(mid)
        col["page_number"].append(0)
        col["page_text"].append(pdf_text(payload))
        col["n_images"].append(-1)
        col["meta_pages"].append(pdf_page_count(payload))
        col["title"].append(None)
        col["producer"].append(None)
        col["created"].append(None)
        col["encrypted"].append(None)
        meta = pdf_metadata(payload)
        pages = pdf_pages(payload) or [
            {"page_number": 0, "text": "", "n_images": 0}
        ]
        enc = "true" if meta["encrypted"] else "false"
        for pg in pages:
            col["media_id"].append(mid)
            col["page_number"].append(pg["page_number"])
            col["page_text"].append(pg["text"])
            col["n_images"].append(pg["n_images"])
            col["meta_pages"].append(meta["pages"])
            col["title"].append(meta["title"])
            col["producer"].append(meta["producer"])
            col["created"].append(meta["created"])
            col["encrypted"].append(enc)
    return pd.DataFrame(col, columns=PDF_COLUMNS)


def extract_pdf(pdfs: DataFrame, id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """(media_id, payload binary) -> PDF_SCHEMA rows (see ``pdf_rows``);
    a NULL payload parses as empty bytes."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf_rows(
                (mid, bytes(p) if p is not None else b"")
                for mid, p in zip(pdf[id_col], pdf[payload_col])
            )

    return pdfs.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        fn, PDF_SCHEMA)
