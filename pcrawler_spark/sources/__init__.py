from .synthetic import SyntheticCrawlConfig, generate_crawl_corpus, pages_spark_df
from .tables import load_table, TESTDATA_TABLES

__all__ = [
    "SyntheticCrawlConfig",
    "generate_crawl_corpus",
    "pages_spark_df",
    "load_table",
    "TESTDATA_TABLES",
]
