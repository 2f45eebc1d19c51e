"""Input sources: shared transcript derivation, synthetic generator,
partitioned feature-table IO, and the FASTA/FASTQ readers."""

from .fastx import read_fastx, read_fastx_distributed, seq_stats
from .io import read_feature_table, write_feature_table
from .transcripts import (
    BASE_TABLES,
    PROBES_SQL,
    TRANSCRIPTS_SQL,
    probes_df,
    register_base_tables,
    synth_transcripts,
    synth_transcripts_pdf,
    transcripts_df,
)

__all__ = [
    "read_fastx",
    "read_fastx_distributed",
    "seq_stats",
    "read_feature_table",
    "write_feature_table",
    "BASE_TABLES",
    "PROBES_SQL",
    "TRANSCRIPTS_SQL",
    "probes_df",
    "register_base_tables",
    "synth_transcripts",
    "synth_transcripts_pdf",
    "transcripts_df",
]
