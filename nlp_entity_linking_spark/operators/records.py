"""pages -> records: the D1 -> D2 stage (SURVEY.md §1.1, §2 B/C).

latest-per-url dedup (as-of semantics on warc_ts) -> byte-identical text
extraction -> mention extraction (title mention is the record surface) ->
normalization / tokens / shingles.

record_id is xxhash64(url): deterministic, partition-layout-independent —
never monotonically_increasing_id (SURVEY.md §4.2). 64-bit collisions are
negligible at test scale; the README's deployment notes cover the
collision-audited id assignment (group-by check) for the 10^12-row tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.extract import extract_page_nd
from ..functions.normalize import char_shingles, normalize, tokenize

RECORD_COLS = (
    "record_id",
    "url",
    "surface",
    "norm",
    "tokens",
    "ctx_tokens",
    "shingles",
    "lang",
)


def audit_record_ids(records: DataFrame) -> int:
    """Collision audit for the xxhash64(url) record-id assignment: number of
    record_ids carrying more than one distinct url (README deployment notes;
    must be 0). One cheap hash aggregate over (record_id, url)."""
    return (
        records.groupBy("record_id")
        .agg(F.countDistinct("url").alias("_n_urls"))
        .filter(F.col("_n_urls") > 1)
        .count()
    )


def latest_per_url(pages: DataFrame) -> DataFrame:
    """One row per url — the newest warc_ts snapshot (SURVEY.md B4/E6).

    Window dedup; ties broken by html bytes for full determinism.
    """
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(F.xxhash64("html"))
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def extract_records(pages: DataFrame, shingle_n: int = 3) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> records (RECORD_COLS).

    The title mention is the record surface (one record per page); html is
    projected away immediately after extraction so the binary column never
    rides a shuffle (SURVEY.md §4.1 column pruning).

    Dedup first, then extract: the latest-per-url window shuffles the html
    payload once and only surviving snapshots pay the extraction. Measured
    at 100k pages (~1 KB html, ~10% re-crawl), dedup-first 5.9s vs
    extract-first 7.0s. Extraction runs in the Arrow/pandas UDF: a codegen
    string-expression twin measured slower at both ~1 KB (3.9s vs 2.7s per
    100k pages) and ~40 KB html (107s vs 79s per 10k) — the regex CPU
    dominates the Arrow transfer, and Java's backtracking engine is slower
    than CPython's sre on the reluctant-dotall html patterns."""
    df = latest_per_url(pages)
    # extract_page_nd: the non-deterministic-MARKED (but pure) Python UDF —
    # keeps the optimizer from duplicating the extraction under the surface
    # filters below (one ArrowEvalPython node, not two; guide §4.4)
    df = (
        df.filter(F.col("html").isNotNull())
        .select("url", "lang", extract_page_nd("html").alias("_page"))
        .select(
            "url",
            "lang",
            F.col("_page.text").alias("text"),
            F.col("_page.mentions").alias("mentions"),
        )
    )
    title = F.filter(F.col("mentions"), lambda m: m["kind"] == F.lit("title"))
    df = (
        df.withColumn("surface", F.element_at(title, 1)["surface"])
        .filter(F.col("surface").isNotNull() & (F.length("surface") > 0))
        .select("url", "lang", "surface", "text")
    )
    df = df.withColumn("norm", normalize("surface")).filter(F.length("norm") > 0)
    return df.select(
        F.xxhash64("url").alias("record_id"),
        "url",
        "surface",
        "norm",
        tokenize("norm").alias("tokens"),
        # context tokens = extracted text MINUS the surface tokens: the
        # TF-IDF cosine must measure *context* similarity — leaving title
        # tokens in lets near-identical names fake a high cosine
        # (SURVEY.md I3: "context similarity TF-IDF cosine").
        F.array_except(
            tokenize(normalize("text")), tokenize(normalize("surface"))
        ).alias("ctx_tokens"),
        char_shingles("norm", shingle_n).alias("shingles"),
        "lang",
    )
