from .incremental import stream_nodes_jsonl, stream_upsert_orders  # noqa: F401
