"""Table sources: deterministic synthetic pages."""

from document_automation_spark.sources.pages import (  # noqa: F401
    PAGES_SCHEMA,
    gen_page,
    pages_df,
)
