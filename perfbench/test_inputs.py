"""Tests of the benchmark's seeded input generator and its statistics.

Run with ``python -m pytest perfbench``; the traced end-to-end test is
marked ``slow`` (``python -m pytest -m slow perfbench``).
"""

from __future__ import annotations

import filecmp
import os
import statistics

import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest

from inputs import Sizes, generate
from run import central_mean, tail_percentile
from tracing import union_seconds

SMALL = Sizes(sf=0.0005, n_docs=200, n_embeddings=50, n_reviews=2_000)

# Column names and physical types of the repository's fixture tables.
FIXTURE_SCHEMAS = {
    "region": "r_regionkey:int32 r_name:string",
    "nation": "n_nationkey:int32 n_name:string n_regionkey:int32",
    "customer": "c_custkey:int64 c_name:string c_nationkey:int32 c_acctbal:double c_mktsegment:string",
    "supplier": "s_suppkey:int64 s_name:string s_nationkey:int32 s_acctbal:double",
    "part": "p_partkey:int64 p_name:string p_brand:string p_type:string p_size:int32 p_retailprice:double",
    "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string o_totalprice:double "
              "o_orderdate:timestamp[us] o_orderpriority:string",
    "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 l_linenumber:int32 "
                "l_quantity:double l_extendedprice:double l_discount:double l_tax:double "
                "l_returnflag:string l_linestatus:string l_shipdate:timestamp[us]",
    "events": "event_id:int64 ts:timestamp[us] user_id:int64 event_type:string value:double props:string",
    "documents": "doc_id:int64 text:string lang:string source:string n_chars:int64",
    "embeddings": "vec_id:int64 embedding:list<element: float> label:int32",
}


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    dirs = {}
    for key, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[key] = str(root / key)
        dirs[key + "_stats"] = generate(dirs[key], seed, SMALL)
    return dirs


def _files(d):
    return sorted(os.listdir(d))


def test_same_seed_gives_identical_bytes(generated):
    a, b = generated["a"], generated["b"]
    assert _files(a) == _files(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert not mismatch and not errors


def test_other_seed_gives_other_tables(generated):
    a, c = generated["a"], generated["c"]
    varying = [f for f in _files(a) if f not in ("region.parquet", "nation.parquet")]
    _match, mismatch, _errors = filecmp.cmpfiles(a, c, varying, shallow=False)
    assert sorted(mismatch) == sorted(varying)


def test_schemas_match_the_fixture_tables(generated):
    for table, expected in FIXTURE_SCHEMAS.items():
        schema = pq.read_schema(os.path.join(generated["a"], f"{table}.parquet"))
        got = " ".join(f"{f.name}:{f.type}" for f in schema)
        assert got == expected, table


def test_stats_count_rows_and_bytes(generated):
    stats = generated["a_stats"]
    for table, info in stats["tables"].items():
        path = os.path.join(generated["a"], f"{table}.tsv" if table == "reviews" else f"{table}.parquet")
        assert info["bytes"] == os.path.getsize(path)
        if table != "reviews":
            assert info["rows"] == pq.ParquetFile(path).metadata.num_rows
    planted = stats["planted"]
    for key in ("exact_dup_share", "near_dup_share", "pii_share"):
        assert 0.0 < planted[key] < 0.15, key
    assert 0.15 < planted["hot_user_share"] < 0.3


def test_reviews_tsv_shape(generated):
    path = os.path.join(generated["a"], "reviews.tsv")
    table = pacsv.read_csv(
        path,
        parse_options=pacsv.ParseOptions(delimiter="\t", quote_char=False),
        convert_options=pacsv.ConvertOptions(
            column_types={c: "string" for c in ("review_body", "customer_id")},
            strings_can_be_null=False,
        ),
    )
    assert table.num_columns == 15 and table.num_rows == SMALL.n_reviews
    bodies = table.column("review_body").to_pylist()
    assert any(b == "" for b in bodies)
    assert any("  " in b for b in bodies)
    assert not any(b.startswith(" ") or b.endswith(" ") for b in bodies)


def test_tail_percentile_keeps_ten_samples_above():
    p, v = tail_percentile([float(i) for i in range(1, 101)])
    assert (p, v) == (90, 90.0)
    assert tail_percentile([3.0, 1.0, 2.0]) == (50, 2.0)


def test_central_mean_is_a_smoothed_median():
    assert central_mean([float(i) for i in range(1, 101)]) == 50.5  # 41..60
    assert central_mean([5.0, 1.0, 4.0, 2.0, 3.0]) == 3.0
    ten = [9.0, 1.0, 8.0, 2.0, 7.0, 3.0, 6.0, 4.0, 5.0, 100.0]
    assert central_mean(ten) == statistics.median(ten)


def test_union_seconds_merges_overlaps():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([]) == 0
