"""Streaming drain ownership audit.

Every streaming query in the package is drained by `streaming/stream.py`
(`fold_available_now`, `run_available_now`, over a `staged_stream`
fixture). That module alone decides how long a drain may take, what
happens on timeout, and which temp dirs and sink views it removes. A
query that starts or awaits its own stream, or makes its own temp dir
with `tempfile.mkdtemp`, re-opens the gaps that one module closes: a
partial drain returned on timeout, a leaked memory-sink table, a leaked
checkpoint. This test pins the invariant: inside the package, the names
below may appear only in `streaming/stream.py`.

A standing aggregate kept current per micro-batch goes through
`stream.fold_deltas`, which owns the per-batch merge and checkpoint. So
`fold_available_now` itself is called only by `stream.py`'s helpers and
by the two index-ingest queries, whose folds build and append persisted
indexes rather than merge a frame (probe scripts under `tools/` sit
outside the package and may call it too).
"""

from __future__ import annotations

import ast

from .test_collect_audit import _pkg_files

OWNER = "streaming/stream.py"
# Attribute names (`df.writeStream`, `q.awaitTermination(...)`,
# `tempfile.mkdtemp(...)`) and imported names (`from tempfile import
# mkdtemp`).
RESERVED = {"writeStream", "awaitTermination", "mkdtemp"}


def _sites() -> list[tuple[str, int, str]]:
    out: list[tuple[str, int, str]] = []
    for rel, full in _pkg_files():
        if rel == OWNER:
            continue
        for node in ast.walk(ast.parse(open(full).read())):
            if isinstance(node, ast.Attribute) and node.attr in RESERVED:
                out.append((rel, node.lineno, node.attr))
            elif isinstance(node, ast.ImportFrom):
                out.extend(
                    (rel, node.lineno, a.name)
                    for a in node.names
                    if a.name in RESERVED
                )
    return out


def test_streams_are_started_and_awaited_only_in_stream_module():
    sites = _sites()
    assert not sites, (
        f"stream start/await or temp-dir creation outside {OWNER} — drain "
        f"through staged_stream / fold_available_now / run_available_now: "
        f"{sorted(sites)}"
    )


# (file, top-level function) pairs allowed to call fold_available_now.
FOLD_CALLERS = {
    ("plans/streaming_queries.py", "streaming_ann_index_ingest"),
    ("plans/streaming_queries.py", "streaming_ivfpq_index_ingest"),
}


def _fold_callers() -> set[tuple[str, str]]:
    out: set[tuple[str, str]] = set()
    for rel, full in _pkg_files():
        if rel == OWNER:
            continue
        for top in ast.parse(open(full).read()).body:
            for node in ast.walk(top):
                name = getattr(node, "attr", getattr(node, "id", None))
                if name == "fold_available_now":
                    out.add((rel, getattr(top, "name", "<module>")))
    return out


def test_fold_available_now_called_only_by_index_ingest_queries():
    extra = _fold_callers() - FOLD_CALLERS
    assert not extra, (
        "fold_available_now called outside stream.py and the index-ingest "
        f"queries — keep a standing frame with stream.fold_deltas: {sorted(extra)}"
    )
