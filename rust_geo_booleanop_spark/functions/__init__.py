from .cells import morton_expr, morton_sql

__all__ = ["morton_expr", "morton_sql"]
