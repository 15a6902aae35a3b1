"""Wrap the module and instance attributes ``pipeline.run_pipeline`` calls
through, so each call becomes a span of its layer.

Span names are ``<layer>.<function>``; the layer is what per-layer metrics
aggregate over. Merge spans also record what the merge wrote, read spans
what they opened.
"""

from __future__ import annotations

import functools
import os

from financial_knowledge_graphs_spark import ops as ops_mod
from financial_knowledge_graphs_spark.operators import (
    constraints, extract, linking, materialize, prep,
)

# (module or class, attribute, layer)
TARGETS = [
    (prep, "with_story", "prep"),
    (prep, "quality_filter", "prep"),
    (prep, "dedup_by_story", "prep"),
    (prep, "resume_anti_join", "prep"),
    (prep, "batch_limit", "prep"),
    (extract, "make_extract_udf", "extract"),
    (extract, "run_extraction", "extract"),
    (extract, "mentions_df", "extract"),
    (extract, "raw_triples_df", "extract"),
    (linking, "name_keys", "link"),
    (materialize, "canonical_mapping", "link"),
    (materialize, "canonical_mapping_incremental", "link"),
    (materialize, "connected_components", "link"),
    (materialize, "build_vertices", "build"),
    (materialize, "build_triples", "build"),
    (constraints, "domain_violations", "build"),
    (constraints, "domain_filter", "build"),
    (materialize, "merge_upsert", "merge"),
    (materialize, "_merge_upsert_attempt", "merge"),
    (materialize, "read_graph_table", "read"),
    (materialize, "read_graph_table_pruned", "read"),
    (materialize, "lookup_by_key", "read"),
    (ops_mod.OpsStore, "__init__", "ops"),
    (ops_mod.OpsStore, "next_run_id", "ops"),
    (ops_mod.OpsStore, "latest_run_id", "ops"),
    (ops_mod.OpsStore, "processed_docs", "ops"),
    (ops_mod.OpsStore, "checkpoint_docs", "ops"),
    (ops_mod.OpsStore, "log_lineage", "ops"),
    (ops_mod.OpsStore, "log_partition_lineage", "ops"),
    (ops_mod.OpsStore, "log_metrics", "ops"),
    (ops_mod.OpsStore, "compact", "ops"),
]


def _table_files(table_path: str) -> dict[str, int]:
    """Relative path -> size of every parquet file under a table dir."""
    out = {}
    for dirpath, _dirs, files in os.walk(table_path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                try:
                    out[os.path.relpath(p, table_path)] = os.path.getsize(p)
                except FileNotFoundError:  # removed by version GC mid-walk
                    pass
    return out


def _bucket_map(table_path: str) -> dict[str, list[str]]:
    state = materialize._table_state(table_path)
    if not state:
        return {}
    return {b: materialize._as_dirs(v) for b, v in state["buckets"].items()}


def classify_buckets(before: dict[str, list[str]],
                     after: dict[str, list[str]]) -> dict[str, int]:
    """Count buckets a merge created, appended to, rewritten or compacted.

    A rewrite replaces a bucket's version dirs; it is a compaction when the
    bucket already held AUTO_COMPACT_FILES dirs (the inline-compaction fold).
    """
    out = {"created": 0, "appended": 0, "rewritten": 0, "compacted": 0}
    for b, new in after.items():
        old = before.get(b)
        if not old:
            out["created"] += 1
        elif new == old:
            continue
        elif new[:len(old)] == old:
            out["appended"] += 1
        else:
            out["rewritten"] += 1
            if len(old) >= materialize.AUTO_COMPACT_FILES:
                out["compacted"] += 1
    return out


def _merge_wrapper(tracer, fn):
    @functools.wraps(fn)
    def wrapper(spark, table_path, *args, **kwargs):
        table = os.path.basename(os.path.normpath(table_path))
        files_before = _table_files(table_path)
        buckets_before = _bucket_map(table_path)
        with tracer.span(f"merge.{table}", table=table) as rec:
            out = fn(spark, table_path, *args, **kwargs)
        files_after = _table_files(table_path)
        new = {p: n for p, n in files_after.items() if p not in files_before}
        rec["attrs"].update(classify_buckets(buckets_before, _bucket_map(table_path)))
        rec["attrs"]["files_written"] = len(new)
        rec["attrs"]["bytes_written"] = sum(new.values())
        rec["attrs"]["live_growth_bytes"] = (
            sum(files_after.values()) - sum(files_before.values()))
        return out

    return wrapper


def _read_exit(rec, args, kwargs, df):
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 - a plan without file scans
        files = []
    rec["attrs"]["files_opened"] = len(files)
    rec["attrs"]["dirs_opened"] = len({os.path.dirname(f) for f in files})
    table_path = args[1] if len(args) > 1 else kwargs.get("table_path")
    if table_path:
        rec["attrs"]["live_dirs"] = sum(
            len(v) for v in _bucket_map(table_path).values())


def install(tracer) -> callable:
    """Install the wrappers; returns a function that removes them."""
    saved = []
    for owner, attr, layer in TARGETS:
        fn = owner.__dict__[attr]
        if attr == "merge_upsert":
            new = _merge_wrapper(tracer, fn)
        elif attr == "_merge_upsert_attempt":
            new = tracer.wrap("merge.attempt", fn)
        elif layer == "read":
            new = tracer.wrap(f"read.{attr}", fn, on_exit=_read_exit)
        else:
            new = tracer.wrap(f"{layer}.{attr}", fn)
        saved.append((owner, attr, fn))
        setattr(owner, attr, new)

    def undo() -> None:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)

    return undo
