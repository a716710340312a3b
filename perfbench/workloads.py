"""The benchmark's workloads and the checks that judge their outputs.

A workload is a fixed list of registry queries. Every query is called the
way the registry and the CLI call it, `QUERIES[name].fn(spark, sf_dir)`, and
its result is materialized by a `noop` write.
"""

from __future__ import annotations

# Row counts of the generated tables follow the fixtures' scale rules at this
# scale factor (datagen.row_counts). The tables do not depend on the run's
# seed: the seed orders the queries, so every run measures the same work.
SF = 0.01
DATA_SEED = 42
SELFCHECK_SF = 0.001

# The fewest timed passes a run makes after the cold pass; it makes more
# while `--seconds` have not gone by. A query's warm time is its fastest timed
# call, so it needs two calls to choose from.
MIN_TIMED_PASSES = 2

# Two workloads, so that a run can time at least two warm passes and 48
# runs still fit in 3420 s on a contended host (README.md, "Run length").
# batch_scan is left out: its cold pass and checks cost the most, and both
# kept workloads still scan, shuffle and compile. ml_sentiment_metrics and
# streaming_ivfpq_index_ingest are left out: each costs more per call than a
# whole warm pass of the rest of its workload.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # Fixpoint loops: many small jobs, bound by the job chain and the
    # driver-side gap between jobs.
    "iterative_chain": (
        "graph_pagerank",
        "graph_component_sizes",
        "graph_label_propagation",
    ),
    # availableNow drains of staged parquet files: two into memory sinks
    # (user totals through a stateful operator), one foreachBatch fold of a
    # count-min sketch. None of them writes a table.
    "stream_ingest": (
        "streaming_sentiment_counts",
        "streaming_user_totals",
        "streaming_cms_heavy_hitters",
    ),
}


class Checker:
    """Compares query results with the queries' DuckDB oracles.

    Uses the comparator of `tests/oracle_check.py` (row count, column names
    and an order-insensitive value hash), so a benchmark check passes exactly
    when the project's own oracle self-check would.
    """

    def __init__(self, sf_dir: str):
        from tests import oracle_check

        self._oc = oracle_check
        self._con = oracle_check.duckdb_conn(sf_dir)

    def check(self, spec, df) -> str | None:
        """Return None when `df` is correct, else a one-line reason."""
        if spec.oracle is None:
            return "query has no oracle"
        r = self._oc.compare(df, self._con, spec.oracle)
        if r["values_match"]:
            return None
        return (
            f"rows spark={r['spark_rows']} oracle={r['oracle_rows']} "
            f"cols_match={r['cols_match']} diffs={r.get('first_diffs', [])[:2]}"
        )

    def close(self) -> None:
        self._con.close()
