"""Where the reference program's four input files are read from.

The FinInsight reference processes one SEC holdings CSV, two CNBC
JSON-lines captures and one Reddit JSON-lines dump. The real files live in
the reference checkout (:data:`REFERENCE_DIR`), which is not part of this
repository. This directory holds reference-shaped stand-ins for the same
four files (FIXTURES.md §B1-B3), written by the seed-42 generator
``python tools/gen_testdata.py --refdata big_data_project_spark/refdata``.

:func:`root` is the one place that decides between them. The registry's
real-data entries (Spark side and DuckDB oracle alike), the migration
example and the tests all read through it, so both engines always see the
same bytes.
"""

from __future__ import annotations

import os

#: the reference checkout's data directory
REFERENCE_DIR = "/root/reference"

#: the committed reference-shaped fixtures (this package's directory)
FIXTURE_DIR = os.path.dirname(os.path.abspath(__file__))

SEC_CSV = "SEC_filings.csv"
CNBC_1 = "CNBC_financial_news_1.json"
CNBC_2 = "CNBC_financial_articles_2.json"
REDDIT = "reddit_posts.json"
FILES = (SEC_CSV, CNBC_1, CNBC_2, REDDIT)


def root() -> str:
    """:data:`REFERENCE_DIR` when all four reference files are there, else
    :data:`FIXTURE_DIR`. Never a mix: a partial checkout falls back whole."""
    if all(os.path.isfile(os.path.join(REFERENCE_DIR, f)) for f in FILES):
        return REFERENCE_DIR
    return FIXTURE_DIR
