from .hierarchy import (
    BUSINESS_SOURCE_TYPES,
    HIERARCHY_MAPPING,
    M4I_BASE_TYPES,
    TYPE_EDGES,
    breadcrumb_paths_df,
    supertype_closure_df,
)

__all__ = [
    "BUSINESS_SOURCE_TYPES",
    "HIERARCHY_MAPPING",
    "M4I_BASE_TYPES",
    "TYPE_EDGES",
    "breadcrumb_paths_df",
    "supertype_closure_df",
]
