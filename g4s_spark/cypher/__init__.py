from .parser import CypherParseError, PatternEdge, QueryGraph, ReturnItem, parse

__all__ = ["parse", "QueryGraph", "PatternEdge", "ReturnItem", "CypherParseError"]
