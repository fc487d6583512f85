"""Text-corpus sources — the Spark replacement for the reference's
file-per-movie directory convention.

Reference behavior being re-expressed (SURVEY §2.1):

- S3/S4: subtitle files named ``{title}_{year}.txt`` with spaces→underscores
  (``scraping/scraper.py:137-153``), read back by directory glob
  (``preprocessing_agent.py:338-352``).
- P3: title/year parsed from ``"Title (year)"`` with default year 1800 when
  missing (``scraping/scraper.py:75-88``).

Spark-first shape: ``spark.read.text(..., wholetext=True)`` gives one row per
file; ``input_file_name()`` + regexp recovers the key. No driver-side glob
loop — the file listing is distributed and the text never lands on the
driver.

Known engine limit (r17 adversarial sweep): Spark's file-source split
planner skips ZERO-BYTE files for every format (text, wholetext, even
binaryFile — verified empirically), so an empty subtitle file is invisible
to any Spark read path. Corpus round-trips therefore exclude empty
documents (src_textsink_roundtrip documents the same carve-out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_subtitle_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory of ``{title}_{year}.txt`` files into
    ``(movie, title, year, raw_text)``.

    ``movie`` is the reference's display name: underscores→spaces, i.e.
    ``"Title YEAR"`` (``clustering/graph_creator.py:91-93``). Missing year
    defaults to 1800 (``scraping/scraper.py:85-88``).
    """
    df = (
        spark.read.text(path, wholetext=True)
        .withColumn("_file", F.input_file_name())
        .withColumn(
            "_stem", F.regexp_extract(F.col("_file"), r"([^/]+)\.txt$", 1)
        )
    )
    name = F.regexp_replace(F.col("_stem"), "_", " ")
    year_str = F.regexp_extract(name, r"\s(\d{4})$", 1)
    title = F.regexp_replace(name, r"\s\d{4}$", "")
    return df.select(
        name.alias("movie"),
        title.alias("title"),
        F.coalesce(F.nullif(year_str, F.lit("")).cast("int"), F.lit(1800)).alias(
            "year"
        ),
        F.col("value").alias("raw_text"),
    )
