from .udfs import normalize_phones_udf, with_url_hash

__all__ = ["normalize_phones_udf", "with_url_hash"]
