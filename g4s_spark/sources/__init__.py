from .layout import compact_parquet, read_graph, read_graph_bucketed, write_graph, write_graph_bucketed
from .snapshots import (
    list_snapshots,
    load_snapshot,
    prune_snapshots,
    read_manifest,
    snapshot_corpus,
    snapshot_diff,
)
from .tables import (
    DOCUMENTS_SCHEMA, TABLES, load_table, load_tables,
    read_documents_jsonl, register_views, write_documents_jsonl,
)

__all__ = [
    "DOCUMENTS_SCHEMA", "TABLES", "load_table", "load_tables",
    "read_documents_jsonl", "register_views", "write_documents_jsonl",
    "write_graph", "read_graph", "write_graph_bucketed", "read_graph_bucketed",
    "compact_parquet",
    "snapshot_corpus", "load_snapshot", "snapshot_diff", "read_manifest",
    "list_snapshots", "prune_snapshots",
]
