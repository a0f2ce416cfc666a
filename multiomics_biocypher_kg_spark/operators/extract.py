"""Stage 1 — extract: pages -> docs(url, warc_ts, lang, text).

The HTML->text transform is the corpus analog of the reference's
PDF extraction (S9/S10 in SURVEY.md §2.1;
/root/reference/multiomics_kg/adapters/pdf_publication_extraction.py:154-265).
The rule chain runs as JVM column expressions, so no row crosses to
Python; ``html_to_text`` is its Python reference, a vectorized Arrow
pandas UDF (series of bytes -> series of str), never a row-at-a-time
UDF.

Scale notes (100 TB design point):
- extraction is a per-row projection: embarrassingly parallel, it
  keeps the input's partitioning and adds no exchange.
- in the reference UDF the binary column stays binary through Arrow
  (no pandas dtype coercion): each element arrives as Python ``bytes``; the UDF output
  is deterministic per url across any Arrow batch boundary, which is
  what makes the byte-identical invariant hold.
- the plan keeps the parquet scan pruned to the four needed columns.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from multiomics_biocypher_kg_spark.functions.text import (
    extract_text,
    extract_text_native,
)


@F.pandas_udf(T.StringType())
def html_to_text(html: pd.Series) -> pd.Series:
    """Vectorized binary->string extraction (rules in functions.text)."""
    return html.map(extract_text)


def extract(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) -> docs(url, warc_ts, lang, text).

    Extra columns (e.g. the doc_id parity key) are passed through.

    The rule chain runs as JVM regexp Column ops
    (functions.text.extract_text_native) — whole-stage codegen, no
    Python, linear core scaling. Measured: the Arrow shuttle of raw
    html dominates a pandas-UDF engine on wide binary rows (a no-op
    pandas UDF over 10 GB html costs ~10 s regardless of cores).
    ``html_to_text`` is the Python reference (full html.unescape
    entity fidelity); tests pin this chain equal to it on every test
    corpus.
    """
    passthrough = [c for c in pages.columns if c not in ("html", "text")]
    return pages.select(*passthrough, extract_text_native(F.col("html")).alias("text"))
