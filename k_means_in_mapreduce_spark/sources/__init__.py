from .tables import load_table, register_views

__all__ = ["load_table", "register_views"]
