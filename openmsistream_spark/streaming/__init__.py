from .anomaly import (
    anomaly_stream_sink,
    compact_moment_ledger,
    score_batch_against_ledger,
)
from .assembly import streaming_assemble
from .curation import curate_document_stream, curation_sink
from .sinks import reconstruction_sink, write_reconstructed_files
from .sources import file_chunk_stream, kafka_chunk_stream
from .text_index import text_index_sink
from .timeseries import gapfill_locf_stream, sessionize_stream

__all__ = [
    "anomaly_stream_sink",
    "compact_moment_ledger",
    "score_batch_against_ledger",
    "gapfill_locf_stream",
    "sessionize_stream",
    "text_index_sink",
    "streaming_assemble",
    "curate_document_stream",
    "curation_sink",
    "file_chunk_stream",
    "kafka_chunk_stream",
    "write_reconstructed_files",
    "reconstruction_sink",
]
