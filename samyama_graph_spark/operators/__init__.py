"""Graph-specific operators that need composition beyond one DataFrame call."""

from samyama_graph_spark.operators.traversal import expand, var_length_expand

__all__ = ["expand", "var_length_expand"]
