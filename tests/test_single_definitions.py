"""Source-scan guard: each shared vector-search stage, the text formula
families (quality score, marker argmax, Gopher battery) and the one
distributed rank keep a single definition under ``operators/``.

No Spark: the test reads the operator sources, collapses whitespace and
counts each pinned definition. A pasted second copy of a stage (the
re-rank tail, the Lloyd update, the LSH plane table, the quantized
prelude, the engine's exact re-rank join) fails here before it can
drift from the first.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

OPERATORS = (
    Path(__file__).resolve().parents[1] / "training_etl_demo_2_spark" / "operators"
)

# name -> regex over whitespace-collapsed source; each must occur once
SINGLE = {
    # the twin top-k tail: the rank clause of a (query_id, neighbor_id,
    # sim) relation, whether ranked on a sim column or on the cosine
    "twin rank clause": (
        r"PARTITION BY (?:\w+\.)?query_id ORDER BY "
        r"(?:sim|round\(list_cosine_similarity\([^)]*\), ?6\)) DESC, "
        r"(?:\w+\.)?neighbor_id ASC"
    ),
    "twin Lloyd update": re.escape("coalesce(m.m, c.c)"),
    "twin LSH plane table": re.escape("planes(tbl, bit, p) AS (VALUES"),
    "twin unit-quantized prelude": re.escape("nrm AS MATERIALIZED"),
    "engine exact re-rank join": re.escape(".join(F.broadcast(q"),
    # the composite quality score: text_quality reports it and
    # clean_corpus filters on it, on each side; the engine's SQL text
    # writes DOUBLE literals (0.4D), so it cannot match the twin's pin
    "engine quality score": re.escape("round(0.4D * least("),
    "twin quality score": re.escape("0.4 * least(n_tokens"),
    # the language-ID marker argmax (language_id, doc_lang_consistency
    # and every query built on them) and the Gopher rule battery
    # (gopher_quality_rules, the ensemble vote, the streaming gate)
    "engine marker argmax": re.escape("= {_BEST} THEN '{lang}'"),
    "engine Gopher battery": re.escape(
        '"ok_alpha_words": "n_alpha_words * 5 >= n_words * 4"'
    ),
}


def _sources() -> dict[str, str]:
    return {
        p.name: re.sub(r"\s+", " ", p.read_text())
        for p in sorted(OPERATORS.glob("*.py"))
    }


@pytest.mark.parametrize("name", sorted(SINGLE))
def test_stage_has_one_definition(name):
    pattern = re.compile(SINGLE[name])
    where = {
        f: len(pattern.findall(src))
        for f, src in _sources().items()
        if pattern.search(src)
    }
    assert sum(where.values()) == 1, f"{name}: {where}"


def test_only_distrank_ranks_by_range():
    """Exact global ranks live in ``distrank.py``: no other operator
    repartitions by range or reads ``spark_partition_id``, apart from
    ``wordcount``'s salt."""
    allowed = {
        "repartitionByRange": {"distrank.py"},
        "spark_partition_id": {"distrank.py", "wordcount.py"},
    }
    for call, files in allowed.items():
        users = {f for f, src in _sources().items() if call in src}
        assert users <= files, f"{call} outside distrank: {sorted(users - files)}"
        assert "distrank.py" in users, call


def test_twins_import_no_engine_text():
    """The DuckDB twins share constants with the engine, never its SQL
    text: ``oracle_text.py`` imports only upper-case names from
    ``text.py``, none of its ``*_expr`` text helpers."""
    tree = ast.parse((OPERATORS / "oracle_text.py").read_text())
    names = {
        alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module == "text"
        for alias in node.names
    }
    assert names and all(n.lstrip("_").isupper() for n in names), names
