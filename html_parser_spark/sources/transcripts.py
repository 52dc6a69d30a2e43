"""Synthetic transcript table builder (BASELINE.json ``input_hint``).

Builds the canonical input table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` deterministically from the driver-provided
``documents`` parquet — every text payload is a full boilerplate HTML
page whose main content is the document text, so the expected
extraction output is known analytically (that is what the DuckDB
oracle checks).

The page template constants are shared with ``__spark_entry__`` so the
Spark pipeline and the SQL oracle are built from one source of truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# One-line boilerplate page: head junk (script/style/title raw-text
# containers), nav/header link chrome, main content, aside/footer.
# The kernel must strip everything but PAGE_MAIN content.
PAGE_PREFIX = (
    "<html><head><title>doc</title><script>var x = 1 < 2;</script>"
    "<style>.m{color:red}</style></head><body>"
    "<nav><ul><li><a href='/home'>Home</a></li><li><a href='/docs'>Docs</a></li>"
    "<li><a href='/about'>About</a></li></ul></nav>"
    "<header><h1>Site</h1></header>"
    "<main id='main'><p>"
)
PAGE_SUFFIX = (
    "</p></main><aside><a href='/ad'>ad</a></aside>"
    "<footer><p>(c) footer</p></footer></body></html>"
)
# Byte offset where the main text payload starts inside the page.
MAIN_TEXT_START = len(PAGE_PREFIX)

EPOCH = "2026-01-01 00:00:00"


def page_html(text_col) -> F.Column:
    """Wrap a text column into the boilerplate page."""
    return F.concat(F.lit(PAGE_PREFIX), text_col, F.lit(PAGE_SUFFIX))


def transcripts_from_documents(
    spark: SparkSession,
    sf_dir: str,
    n_convs: int = 50,
    replicate: int = 1,
) -> DataFrame:
    """Deterministic transcripts: doc_id → (conv, turn) round-robin.

    ``replicate`` multiplies volume for benchmarking (rep index keeps
    conv_ids distinct).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate > 1:
        docs = docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
    else:
        docs = docs.withColumn("rep", F.lit(0))
    docs = docs.withColumn("conv_num", F.pmod(F.col("doc_id"), F.lit(n_convs)))
    turn = F.floor(F.col("doc_id") / F.lit(n_convs)).cast("int")

    conv = F.concat(
        F.lit("conv"),
        F.lpad((F.col("conv_num") + F.col("rep") * n_convs).cast("string"), 7, "0"),
    )
    role = F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), turn % 3 + 1)
    tool = F.when(turn % 3 == 2, F.lit("browser")).otherwise(F.lit(""))
    ts = F.to_timestamp(F.lit(EPOCH)) + F.make_interval(secs=F.col("doc_id") * 17)
    return docs.select(
        conv.alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        page_html(F.col("text")).alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
        F.col("doc_id"),
        F.col("text").alias("expected_main_text"),
    )
