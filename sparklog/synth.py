"""Deterministic pages + syslog-line synthesis (Spark side).

Input model per BASELINE.json input_hint: an Iceberg-style table
``pages(url, warc_ts, html, text, lang)`` of Common-Crawl-style web pages.
In this sandbox pages are derived deterministically from the driver's
``documents`` parquet (TESTDATA.md); at production scale the same column
expressions run against the real Iceberg table.

One syslog line per page, fully determined by doc_id (FIXTURES.md §2):

    <PRI>1 TIMESTAMP HOSTNAME APPNAME PROCID MSGID SD MSG

MSG is the page ``text`` verbatim — the byte-identity invariant
(msg == pages.text for every url) is what the roundtrip tests check.
When text is empty the line ends right after SD with NO trailing space
(the empty-msg rule, reference parser.rs:365-368).

Everything here is JVM Column expressions (whole-stage codegen); the
synthesis itself never crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparklog import synthrules as R

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss"


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages(doc_id, url, warc_ts, html, text, lang).

    ``html`` exists only to prove column pruning: the pipeline never
    references it, and the parquet scan must not read it (.explain
    ReadSchema check in tests).
    """
    d = load_documents(spark, sf_dir)
    return d.select(
        "doc_id",
        F.expr(R.URL).alias("url"),
        F.to_timestamp(F.from_unixtime(F.expr(R.WARC_SECS))).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
            "UTF-8",
        ).alias("html"),
        "text",
        "lang",
    )


def write_pages_partitioned(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Materialize pages partitioned by days(warc_ts) — the Iceberg-style
    layout the north rule's partition-pruning check assumes. Readers that
    filter on warc_day scan only the matching day directories."""
    (
        pages_df(spark, sf_dir)
        .withColumn("warc_day", F.to_date("warc_ts"))
        .write.mode("overwrite")
        .partitionBy("warc_day")
        .parquet(out_dir)
    )


def _ts_str() -> F.Column:
    warc = F.expr(R.WARC_SECS)
    base = F.from_unixtime(warc, _TS_FMT)
    variant = F.expr(R.TS_VARIANT)
    frac = F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0")
    return (
        F.when(variant == 0, F.concat(base, F.lit("Z")))
        .when(variant == 1, F.concat(base, F.lit("+00:00")))
        .when(
            variant == 2,
            F.concat(F.from_unixtime(warc - 18000, _TS_FMT), F.lit("-05:00")),
        )
        .when(variant == 3, F.concat(base, F.lit("."), frac, F.lit("Z")))
        .otherwise(F.lit("-"))
    )


def _sd_str() -> F.Column:
    """STRUCTURED-DATA string with the coverage classes of synthrules."""
    meta = F.concat(
        F.lit('[meta lang="'), F.col("lang"),
        F.lit('" seq="'), F.col("doc_id").cast("string"), F.lit('"]'),
    )
    origin = F.when(
        F.expr(R.SD_HAS_ORIGIN),
        F.concat(
            F.lit('[origin x-service="svc'),
            (F.col("doc_id") % 4).cast("string"), F.lit('"]'),
        ),
    ).otherwise(F.lit(""))
    # duplicate SD-ID: a second [meta …] element merges into the first
    # (reference parser.rs:195 entry() semantics)
    dup = F.when(
        F.expr(R.SD_HAS_DUP),
        F.concat(
            F.lit('[meta dup="'), (F.col("doc_id") % 2).cast("string"), F.lit('"]')
        ),
    ).otherwise(F.lit(""))
    empty_el = F.when(F.expr(R.SD_HAS_EMPTY), F.lit("[ext@9]")).otherwise(F.lit(""))
    # escapes: \" and \\ inside values (parser.rs:120-157)
    esc = F.when(
        F.expr(R.SD_HAS_ESC), F.lit('[esc note="q\\"v" path="a\\\\b"]')
    ).otherwise(F.lit(""))
    return F.when(F.expr(R.SD_NIL), F.lit("-")).otherwise(
        F.concat(meta, origin, dup, empty_el, esc)
    )


def lines_df(spark: SparkSession, sf_dir: str, corrupt: bool = False) -> DataFrame:
    """One deterministic syslog line per document: (doc_id, line)."""
    return lines_from_docs(pages_df(spark, sf_dir), corrupt=corrupt)


def lines_from_docs(pages: DataFrame, corrupt: bool = False,
                    carry: tuple[str, ...] = ()) -> DataFrame:
    """Line synthesis over any frame with (doc_id, text, lang): (doc_id,
    *carry, line), where ``carry`` names input columns passed through
    unchanged (e.g. the job's day chunk)."""
    pri = F.expr(R.PRI).cast("string")
    header = F.concat(
        F.lit("<"), pri, F.lit(">1 "),
        _ts_str(), F.lit(" "),
        F.coalesce(F.expr(R.HOSTNAME), F.lit("-")), F.lit(" "),
        F.coalesce(F.expr(R.APPNAME), F.lit("-")), F.lit(" "),
        F.expr(R.PROCID_TERM), F.lit(" "),
        F.coalesce(F.expr(R.MSGID), F.lit("-")), F.lit(" "),
        _sd_str(),
    )
    # empty msg => no trailing space (parser.rs:365-368)
    line = F.concat(
        header,
        F.when(F.col("text") == "", F.lit("")).otherwise(
            F.concat(F.lit(" "), F.col("text"))
        ),
    )
    if corrupt:
        # three malformed classes with known error variants (errors-as-data)
        kind = F.col("doc_id") % 3
        bad = (
            F.when(kind == 0, F.concat(F.lit("<4096>1 "), _ts_str(), F.lit(" - - - - -")))
            .when(kind == 1, F.lit("<134>Feb 18 20:53:31 haproxy[376]: I am a message"))
            .otherwise(F.lit("<39>1 2018-05-15T20:56:58+00:00 -web1west -"))
        )
        line = F.when(F.expr(R.CORRUPT), bad).otherwise(line)
    return pages.select("doc_id", *carry, line.alias("line"))
