from . import xlsx_io
from .excel import read_excel_sheet
from .registry import register_sheet, discover_files, resolve_match

__all__ = [
    "xlsx_io", "read_excel_sheet",
    "register_sheet", "discover_files", "resolve_match",
]
