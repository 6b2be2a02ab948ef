"""Table IO: parquet-backed catalog with an Iceberg-shaped API, plus the
transcripts reader and stable partition-bucket derivation. The snapshot
table (``sources.snapshots``) is imported from its submodule."""

from .catalog import Catalog
from .transcripts import (
    TRANSCRIPTS_SCHEMA,
    generate_transcripts,
    read_transcripts,
    with_partition_id,
)

__all__ = [
    "Catalog",
    "TRANSCRIPTS_SCHEMA",
    "generate_transcripts",
    "read_transcripts",
    "with_partition_id",
]
