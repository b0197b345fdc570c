"""Archive sources: binaryFile scans and deterministic synthesis."""

from .corpus import (  # noqa: F401
    build_archive,
    archives_df,
    read_archives,
)
