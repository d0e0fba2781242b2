from .binary import binary_files_to_features, read_binary_files
from .tables import TABLE_NAMES, load_table
from .text import read_csv, read_jsonl, read_manifest, read_text_lines

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "read_csv",
    "read_jsonl",
    "read_text_lines",
    "read_manifest",
    "read_binary_files",
    "binary_files_to_features",
]
