"""C1: byte-identical html->text extraction (the north rule's per-row
invariant) + html mention extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from nlp_entity_linking_spark.functions.extract import (
    extract_mentions_html,
    extract_text,
)
from nlp_entity_linking_spark.sources.synthetic import gen_pages


def test_extract_byte_identical_vs_generator(spark):
    pages, _ = gen_pages(spark, 500)
    bad = pages.withColumn("ext", extract_text("html")).filter(
        F.col("ext") != F.col("text")
    )
    assert bad.count() == 0


def test_extract_partitioning_invariant(spark):
    """Same bytes -> same text regardless of partition layout/batching."""
    pages, _ = gen_pages(spark, 300)
    one = (
        pages.repartition(1)
        .select("url", extract_text("html").alias("t"))
        .orderBy("url", "t")
        .collect()
    )
    many = (
        pages.repartition(16)
        .select("url", extract_text("html").alias("t"))
        .orderBy("url", "t")
        .collect()
    )
    assert one == many


def test_extract_units(spark):
    cases = [
        (b"<html><body><p>Hello <b>World</b></p></body></html>", "Hello World"),
        (b"<html><script>var x = '<p>no</p>';</script>ok</html>", "ok"),
        (b"<html><!-- hidden -->shown</html>", "shown"),
        (b"<p>a &amp; b &lt;c&gt;</p>", "a & b <c>"),
        (b"<style>p{color:red}</style>text", "text"),
        (b"  <div>\n\n spaced   out \t</div> ", "spaced out"),
    ]
    df = spark.createDataFrame([(h, e) for h, e in cases], "html binary, expect string")
    rows = df.select(extract_text("html").alias("got"), "expect").collect()
    for r in rows:
        assert r.got == r.expect


def test_mentions_title_and_bold(spark):
    html = (
        b"<html><head><title>Acme Corp</title></head>"
        b"<body><b>Jane Doe</b> and <strong>Bob</strong></body></html>"
    )
    df = spark.createDataFrame([(html,)], "html binary")
    got = df.select(extract_mentions_html("html").alias("m")).collect()[0].m
    assert [(m.surface, m.kind) for m in got] == [
        ("Acme Corp", "title"),
        ("Jane Doe", "bold"),
        ("Bob", "bold"),
    ]


def test_extract_udf_evaluated_once_in_records_plan(spark):
    """The records plan must contain exactly ONE ArrowEvalPython node: the
    surface filters reference the UDF's output, and without the
    non-deterministic marker on extract_page_nd the optimizer pushes them
    below the projection and DUPLICATES the extraction — every page shipped
    through Arrow and regex-stripped twice (guide §4.4; r8 optimization)."""
    from nlp_entity_linking_spark.operators.records import extract_records
    from nlp_entity_linking_spark.sources.synthetic import gen_pages

    pages, _ = gen_pages(spark, 50)
    plan = extract_records(pages)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
