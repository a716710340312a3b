"""Repo-wide driver-side collect audit (VERDICT r10 item 6).

The 100 TB design claim "no unguarded driver collect in any hot path"
was, until this round, settled by inspection each review. This test
turns it into a regression-pinned invariant: every `.collect()` /
`.first()` / `.take()` / `.toPandas()` / `.head()` / `.tail()` /
`.toLocalIterator()` call anywhere in the PACKAGE (operators, plans,
streaming, sources, functions, workloads — enumerated from the package
root, r12) must appear in
the allow-list below, each with the reason its result is BOUNDED by
contract (k centroids, m×k codebooks, one merge row per BPE round, a
64×64 scatter grid, 1-row aggregates, DESCRIBE/meta reads) or loudly
guarded (`cosine_pairs` raises above `max_matrix_rows`).

A new collect site fails this test until it is either re-expressed
distributed or added here WITH its boundedness argument — which is
exactly the review conversation the invariant exists to force.

Calls on a receiver literally named `F` are excluded: those are
`pyspark.sql.functions.first(...)` aggregate EXPRESSIONS, not driver
actions.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "analyzing_big_data_in_scala_spark",
)

ACTIONS = {
    "collect",
    "first",
    "take",
    "toPandas",
    "head",
    "tail",
    "toLocalIterator",
}

# (module-relative path, enclosing function) -> boundedness argument.
ALLOWED: dict[tuple[str, str], str] = {
    ("operators/bpe.py", "bpe_merge_table"): (
        "one merge row collected per round; rounds bounded by n_merges "
        "(the documented bounded-collect contract; cost = rounds x one "
        "corpus aggregate)"
    ),
    ("operators/chunking.py", "exact_substring_removal"): (
        "1-row aggregate (sum of removed tokens) steering the bounded "
        "fixpoint loop"
    ),
    ("operators/graph.py", "_rank_rounds"): (
        "1-row max-delta aggregate per iteration (tolerance-mode stop "
        "condition)"
    ),
    ("operators/graph.py", "connected_components_two_phase"): (
        "1-row convergence-check aggregate per phase round"
    ),
    ("operators/kmeans.py", "hash_seed_centroids"): (
        "exactly k centroid rows (k is the caller's constant)"
    ),
    ("operators/kmeans.py", "_localized_update"): (
        "k centroid-mean rows per Lloyd round (k is the caller's "
        "constant, independent of corpus size) re-entering as a "
        "LocalRelation — the r15 job-chain cut"
    ),
    ("operators/pq.py", "_validate_codebook"): (
        "1-row schema/shape probe on the codebook table"
    ),
    ("operators/pq.py", "_train_on_qvec"): (
        "m x k codebook rows (fixed product-quantizer geometry, "
        "independent of corpus size)"
    ),
    ("operators/projection.py", "_validate_and_quantize"): (
        "limit(1) dimension probe"
    ),
    ("operators/projection.py", "top_principal_direction"): (
        "the 64x64 scatter grid — fixed in_dim^2 rows at any corpus size"
    ),
    ("operators/similarity.py", "cosine_pairs"): (
        "GUARDED exact path: raises above max_matrix_rows before "
        "collecting; cosine_pairs_blocked is the scale path"
    ),
    ("operators/similarity.py", "_probe_and_score"): (
        "collects the QUERY side only — bounded by the caller's probe "
        "set, never the corpus"
    ),
    ("operators/similarity.py", "ivf_topk_indexed"): (
        "k centroid rows from the persisted index's centroid table"
    ),
    ("operators/similarity.py", "_append_bucketed"): (
        "DESCRIBE EXTENDED metadata rows (bucket-spec check)"
    ),
    ("operators/similarity.py", "lsh_index_append"): (
        "1-row meta-table read (stored hyperplane geometry)"
    ),
    ("operators/similarity.py", "lsh_topk_indexed"): (
        "1-row meta-table read (stored hyperplane geometry)"
    ),
    ("plans/pipeline_queries.py", "corpus_bpe_token_stats"): (
        "n_merges rule rows (8) re-broadcast into the segmenter"
    ),
    ("plans/streaming_queries.py", "streaming_click_attribution_outer"): (
        "1-row fixture-span aggregate sizing the watermark for the "
        "staged stream"
    ),
    ("plans/streaming_queries.py", "fold"): (
        "take(1) emptiness probe inside a foreachBatch fold (bounded by "
        "construction; two folds share the function name)"
    ),
    # r12 (VERDICT r11 item 4): the walk now covers the WHOLE package —
    # the two sites below were previously outside the audit's scope.
    ("sources/layout.py", "write_zordered"): (
        "1-row min/max stats aggregate scaling the Z-curve — metadata, "
        "the same cost class as repartitionByRange's sampling pass"
    ),
    ("streaming/stream.py", "produce"): (
        "TEST-ONLY twin loudly documented at its definition: "
        "kafka_sink_via_foreach_batch drains micro-batches to a local "
        "list for fixture assertions; the production path is the "
        "executor-side kafka_sink (format('kafka'))"
    ),
}


def _pkg_files() -> list[tuple[str, str]]:
    """Every .py file under the PACKAGE ROOT (r12, VERDICT r11 item 4:
    streaming/, sources/, functions/, workloads.py and future subpackages
    are enumerated from the root — a collect regression can no longer
    land in an unscanned corner of the package)."""
    out: list[tuple[str, str]] = []
    for dirpath, dirnames, filenames in os.walk(PKG):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                out.append((os.path.relpath(full, PKG), full))
    return out


def _call_sites() -> dict[tuple[str, str], int]:
    sites: dict[tuple[str, str], int] = {}
    for rel, full in _pkg_files():
            tree = ast.parse(open(full).read())
            stack: list[str] = []

            class V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    f = node.func
                    if (
                        isinstance(f, ast.Attribute)
                        and f.attr in ACTIONS
                        # F.first(...) / F.last(...) are aggregate
                        # EXPRESSIONS from pyspark.sql.functions, not
                        # driver actions.
                        and not (
                            isinstance(f.value, ast.Name) and f.value.id == "F"
                        )
                    ):
                        key = (rel, stack[-1] if stack else "<module>")
                        sites[key] = sites.get(key, 0) + 1
                    self.generic_visit(node)

            V().visit(tree)
    return sites


def test_driver_collects_are_allowlisted():
    sites = _call_sites()
    unexpected = {k: n for k, n in sites.items() if k not in ALLOWED}
    assert not unexpected, (
        "new driver-side collect site(s) — re-express distributed or "
        f"allow-list with a boundedness argument: {sorted(unexpected)}"
    )
    # Stale allow-list entries rot into false documentation — prune them.
    stale = [k for k in ALLOWED if k not in sites]
    assert not stale, f"allow-listed collect sites no longer exist: {stale}"
