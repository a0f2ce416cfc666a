"""Byte-identical extraction invariant (BASELINE.json input_hint)."""

from __future__ import annotations

from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.functions.text import extract_text, synth_html
from multiomics_biocypher_kg_spark.operators.extract import extract, html_to_text
from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents
from tests.conftest import SF_TINY

TRICKY_TEXTS = [
    "plain words only",
    "has <angle> brackets & ampersand",
    "double  spaces   preserved",
    "unicode: café — naïve 中文",
    "trailing space ",
    "",
]


def test_pure_roundtrip_tricky():
    for i, t in enumerate(TRICKY_TEXTS):
        for broken in (False, True):
            html = synth_html(f"u{i}", t, "en", broken=broken)
            assert extract_text(html.encode("utf-8")) == t, (t, broken)


def test_spark_native_synth_matches_python(spark):
    pages = pages_from_documents(spark, SF_TINY)
    rows = pages.limit(50).collect()
    for r in rows:
        assert extract_text(r.html) == r.text


def test_extract_stage_byte_identical(spark):
    pages = pages_from_documents(spark, SF_TINY)
    docs = extract(pages.repartition(4, "url"))
    mismatch = (
        docs.alias("d")
        .join(pages.select("doc_id", F.col("text").alias("oracle")), "doc_id")
        .where(
            (F.col("d.text") != F.col("oracle"))
            | F.col("d.text").isNull()
        )
        .count()
    )
    assert mismatch == 0
    assert docs.count() == pages.count()


def test_extract_null_html(spark):
    df = spark.createDataFrame([("u1", None)], "url string, html binary")
    out = extract(df).collect()
    assert out[0].text is None


def test_native_equals_arrow_engine(spark):
    from pyspark.sql import functions as F

    pages = pages_from_documents(spark, SF_TINY)
    nat = extract(pages).select("doc_id", F.col("text").alias("t_nat"))
    arr = pages.select("doc_id", html_to_text(F.col("html")).alias("t_arr"))
    bad = nat.join(arr, "doc_id").where(
        (F.col("t_nat") != F.col("t_arr")) | F.col("t_nat").isNull()
    ).count()
    assert bad == 0
