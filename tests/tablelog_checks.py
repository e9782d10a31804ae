"""Metadata-only invariants of the table log, shared by the writer and
model-based tests."""

from __future__ import annotations

from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL


def assert_commit_metadata(root: str) -> None:
    """Every retained version records its row-id accounting: a watermark
    that never decreases and a base for each live file, and a schema set
    that resolves to one read type per column. Every full manifest
    (RESTORE, a clone's v0) carries the schema set and the sink
    ledger."""
    prev = 0
    for v in TL._versions(root):
        m = TL._read_manifest(root, v)
        if "live" in m:
            assert "schemas" in m and "stream_txn" in m, f"v{v}"
        st = TL._snapshot(root, v)
        wm = st["rowid_watermark"]
        assert wm is not None and wm >= prev, f"v{v}: watermark {wm} < {prev}"
        assert set(st["live"]) <= set(st["rowid_bases"]), f"v{v}"
        TL._schema_from_manifest(st)  # raises on an unreadable type set
        prev = wm
