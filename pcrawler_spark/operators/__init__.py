from .dedup import dedup_keep_first, dedup_keep_last
from .seen import anti_join_seen
from .politeness import politeness_decide
from .export import export_contacts
from .concomp import canonical_docs, connected_components

__all__ = [
    "dedup_keep_first",
    "dedup_keep_last",
    "anti_join_seen",
    "politeness_decide",
    "export_contacts",
    "connected_components",
    "canonical_docs",
]
