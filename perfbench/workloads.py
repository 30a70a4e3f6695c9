"""The benchmark's workloads: inputs, operation lists and output checks.

An *operation* is one call to a registry callable
``queries()[name](spark, sf_dir)`` followed by materialising its result
into the ``noop`` sink, or one ``Workflow.run`` of the reference job.
A *pass* is one run through a workload's operation list.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from inputs import Sizes

REFERENCE_WORKFLOW = "reference_workflow"

# Registry queries of ``query_sweep``: one per operator family, from
# the cheap end of each family at this input size, so that the fixed
# cost per query (py4j plan build, Catalyst, job scheduling) dominates.
# A rows-only entry, a pandas UDF, a tracked persist and a document
# stream are included so that every layer is exercised.
QUERY_SWEEP = [
    "top10_words",             # wordcount, the flagship
    "scrub_pii",               # text, regex scrubbing
    "compression_ratio",       # text, rows-only
    "dedup_exact",             # dedup
    "q12_late_shipments",      # tpch_gap, join
    "ann_brute_topk_pandas",   # similarity, pandas UDF
    "skewed_user_revenue",     # skew, the hot user
    "sql_grouping_sets",       # SQL surface
    "clean_corpus",            # pipeline
    "langid_kappa",            # text, tracked persist
    "stream_quality_gate",     # streaming, document stream
]


@dataclass(frozen=True)
class Workload:
    name: str
    sizes: Sizes
    ops: list[str]
    # later passes per run: fixed, so that every run's medians sit at
    # the same point of the JVM's warm-up (``--seconds`` is a floor)
    later_passes: int

    def input_rows(self, stats: dict) -> int:
        tables = stats["tables"]
        if self.name == "reference_etl":
            return tables["reviews"]["rows"]
        return sum(t["rows"] for n, t in tables.items() if n != "reviews")

    def input_bytes(self, stats: dict) -> int:
        tables = stats["tables"]
        if self.name == "reference_etl":
            return tables["reviews"]["bytes"]
        return sum(t["bytes"] for n, t in tables.items() if n != "reviews")


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "reference_etl",
            Sizes(sf=0.001, n_docs=100, n_embeddings=100, n_reviews=120_000),
            [REFERENCE_WORKFLOW],
            later_passes=10,
        ),
        Workload(
            "query_sweep",
            Sizes(sf=0.002, n_docs=500, n_embeddings=500),
            QUERY_SWEEP,
            later_passes=6,
        ),
    )
}


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows."""
    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def reference_sink_problems(sink_path: str, tsv_path: str, word_count_sql: str) -> list[str]:
    """Compare the reference job's keyed sink with the ``word_count``
    DuckDB twin over the same review bodies."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT review_body AS text FROM read_csv("
        f"'{tsv_path}', delim='\t', header=true, all_varchar=true, quote='', escape='')"
    )
    oracle = sorted((w, int(c)) for w, c in con.sql(word_count_sql).fetchall())
    sink = pq.read_table(sink_path, columns=["id", "word", "count"]).to_pylist()
    got = sorted((r["word"], int(r["count"])) for r in sink)
    problems = []
    if any(r["id"] != "word_" + r["word"] for r in sink):
        problems.append("sink id is not 'word_' || word")
    if got != oracle:
        problems.append(f"sink has {len(got)} words, twin has {len(oracle)}; contents differ")
    return problems
