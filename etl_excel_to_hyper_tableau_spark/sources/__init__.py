from . import xlsx_io
from .excel import read_excel_sheet
from .jsonl import (
    read_documents_jsonl, read_jsonl, split_corrupt, write_jsonl,
)
from .registry import register_sheet, discover_files, resolve_match

__all__ = [
    "xlsx_io", "read_excel_sheet",
    "register_sheet", "discover_files", "resolve_match",
    "read_jsonl", "read_documents_jsonl", "split_corrupt", "write_jsonl",
]
