from .udfs import (
    DETAILS_SCHEMA,
    extract_details_udf,
    extract_text_udf,
    normalize_phones_udf,
    with_url_hash,
)

__all__ = [
    "DETAILS_SCHEMA",
    "extract_details_udf",
    "extract_text_udf",
    "normalize_phones_udf",
    "with_url_hash",
]
