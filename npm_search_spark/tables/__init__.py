from .snaptable import FILE_COL, Pin, SnapTable, source_files

__all__ = ["FILE_COL", "Pin", "SnapTable", "source_files"]
