from .readers import load_table

__all__ = ["load_table"]
