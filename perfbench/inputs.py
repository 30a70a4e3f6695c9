"""Seeded input generator for the benchmark.

Writes the ten tables the registry reads (same column names and
physical parquet types as the repository's fixture tables, ``events.ts``
included) plus the reference job's reviews TSV, all as pure functions
of ``(seed, sizes)``: the same seed gives byte-identical files, another
seed gives different ones. Nothing here touches Spark, so generation
stays outside every timed region and costs about a second.

Planted structure, recorded in the returned stats:

* documents: a stated share of exact duplicates, of near duplicates
  (1-3 token edits of an earlier document) and of documents carrying
  PII (an email, a phone number or an IPv4 address);
* events: one hot ``user_id`` owning a stated share of the rows (skew);
* reviews: Zipfian ``review_body`` with multi-space runs and a share of
  empty bodies, in the 15-column shape of the public reviews TSV.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Row counts per unit scale factor, in the fixture tables' ratios.
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
CATEGORIES = ["Books", "Electronics", "Gift Card", "Home", "Music", "Toys", "Video"]
REVIEW_COLUMNS = [
    "marketplace", "customer_id", "review_id", "product_id", "product_parent",
    "product_title", "product_category", "star_rating", "helpful_votes",
    "total_votes", "vine", "verified_purchase", "review_headline",
    "review_body", "review_date",
]

VOCAB_SEED = 0
# Planted shares, the same for every workload and seed.
DUP_SHARE = 0.05         # documents: exact copies of an earlier document
NEAR_DUP_SHARE = 0.05    # documents: 1-3 token edits of an earlier one
PII_SHARE = 0.05         # documents: carrying an email, phone or IPv4
HOT_USER_SHARE = 0.2     # events: rows owned by user_id 0
EMPTY_BODY_SHARE = 0.02  # reviews: empty review_body
_US = 1_000_000
_DAY_US = 86_400 * _US
_EPOCH_1995 = 788_918_400 * _US  # 1995-01-01T00:00:00
_EPOCH_2024 = 1_704_067_200 * _US  # 2024-01-01T00:00:00


@dataclass(frozen=True)
class Sizes:
    """Input sizes for one workload. ``sf`` scales the star schema and
    events; documents, embeddings and reviews are sized directly."""

    sf: float = 0.001
    n_docs: int = 500
    n_embeddings: int = 500
    n_reviews: int = 0


def _rows(sizes: Sizes, table: str) -> int:
    return max(10, int(round(ROWS_PER_SF[table] * sizes.sf)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days(rng, first_us: int, n_days: int, n: int) -> pa.Array:
    return _ts(first_us + rng.integers(0, n_days, n) * _DAY_US)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _fmt(template: str, ids: np.ndarray) -> pa.Array:
    return pa.array([template % i for i in ids.tolist()])


def _star_schema(rng, sizes: Sizes) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = (_rows(sizes, t) for t in ("customer", "supplier", "part"))
    n_ord, n_li = _rows(sizes, "orders"), _rows(sizes, "lineitem")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ids = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ids, pa.int64()),
        "c_name": _fmt("Customer#%09d", ids),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    ids = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(ids, pa.int64()),
        "s_name": _fmt("Supplier#%09d", ids),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, _EPOCH_1995 + _DAY_US, 2499, n_li),
    })
    return t


def _events(rng, sizes: Sizes) -> pa.Table:
    n = _rows(sizes, "events")
    n_users = max(10, n // 66)
    users = rng.integers(1, n_users, n)
    users[rng.random(n) < HOT_USER_SHARE] = 0  # the hot user
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(users, pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n).tolist()]),
    })


def _pii(rng) -> str:
    kind = rng.integers(0, 3)
    if kind == 0:
        return f"user{rng.integers(0, 10_000)}@example{rng.integers(0, 50)}.com"
    if kind == 1:
        return f"+1 555 {rng.integers(100, 1000)} {rng.integers(1000, 10_000)}"
    return ".".join(str(x) for x in rng.integers(1, 255, 4))


def _documents(rng, sizes: Sizes) -> tuple[pa.Table, dict]:
    n = sizes.n_docs
    vocab = np.asarray(DOC_VOCAB, dtype=object)
    texts: list[str] = []
    planted = {"exact_dup": 0, "near_dup": 0, "pii": 0}
    kinds = rng.random(n)
    near_cut = DUP_SHARE + NEAR_DUP_SHARE
    for i in range(n):
        if i > 0 and kinds[i] < DUP_SHARE:
            texts.append(texts[rng.integers(0, i)])
            planted["exact_dup"] += 1
            continue
        if i > 0 and kinds[i] < near_cut:
            words = texts[rng.integers(0, i)].split(" ")
            for pos in rng.integers(0, len(words), rng.integers(1, 4)):
                words[pos] = vocab[rng.integers(0, len(vocab))]
            planted["near_dup"] += 1
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        if rng.random() < PII_SHARE:
            words.insert(int(rng.integers(0, len(words) + 1)), _pii(rng))
            planted["pii"] += 1
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    return table, planted


def _embeddings(rng, sizes: Sizes) -> pa.Table:
    n, dim = sizes.n_embeddings, 64
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.normal(size=(n, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + noise
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def _zipf_words(rng, n_vocab: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_vocab:
        w = "".join(letters[rng.integers(0, 26, rng.integers(2, 9))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.asarray(words, dtype=object)


def _zipf_texts(rng, vocab, probs, lengths: np.ndarray) -> list[str]:
    """One Zipfian text per entry of ``lengths`` (>= 1 word each), with
    ~5% of the separators widened to runs of 2-3 spaces."""
    seps = [" ", "  ", "   ", ""]
    # every (word, trailing separator) pair, indexed word * 4 + sep
    combos = np.asarray([w + s for w in vocab for s in seps], dtype=object)
    n_words = int(lengths.sum())
    sep = rng.choice(3, n_words, p=[0.95, 0.03, 0.02])
    ends = np.cumsum(lengths)
    sep[ends - 1] = 3  # no separator after a text's last word
    toks = combos[rng.choice(len(vocab), n_words, p=probs) * 4 + sep].tolist()
    starts = ends - lengths
    return ["".join(toks[a:b]) for a, b in zip(starts.tolist(), ends.tolist())]


def _reviews(rng, sizes: Sizes) -> tuple[pa.Table, dict]:
    n = sizes.n_reviews
    # one vocabulary for every seed, like a language; the seed draws the
    # reviews from it, so output sizes do not follow random word lengths
    vocab = _zipf_words(np.random.default_rng(VOCAB_SEED), 5000)
    probs = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    probs /= probs.sum()
    empty = rng.random(n) < EMPTY_BODY_SHARE
    bodies = _zipf_texts(rng, vocab, probs, rng.integers(5, 60, n))
    bodies = ["" if e else b for e, b in zip(empty.tolist(), bodies)]
    heads = _zipf_texts(rng, vocab, probs, rng.integers(1, 6, n))
    titles = _zipf_texts(rng, vocab, probs, rng.integers(1, 5, n))
    ids = np.arange(n)
    helpful = rng.integers(0, 20, n)
    cols = {
        "marketplace": pa.array(["US"] * n),
        "customer_id": pa.array([str(x) for x in rng.integers(10**6, 10**8, n).tolist()]),
        "review_id": _fmt("R%012d", ids),
        "product_id": _fmt("B%09d", rng.integers(0, max(1, n // 4), n)),
        "product_parent": pa.array([str(x) for x in rng.integers(10**5, 10**9, n).tolist()]),
        "product_title": pa.array(titles),
        "product_category": _pick(rng, CATEGORIES, n),
        "star_rating": pa.array([str(x) for x in rng.integers(1, 6, n).tolist()]),
        "helpful_votes": pa.array([str(x) for x in helpful.tolist()]),
        "total_votes": pa.array([str(x) for x in (helpful + rng.integers(0, 5, n)).tolist()]),
        "vine": _pick(rng, ["N", "Y"], n, p=[0.95, 0.05]),
        "verified_purchase": _pick(rng, ["N", "Y"], n, p=[0.2, 0.8]),
        "review_headline": pa.array(heads),
        "review_body": pa.array(bodies),
        "review_date": _days(rng, _EPOCH_1995 + 3000 * _DAY_US, 3000, n).cast(pa.date32()).cast(pa.string()),
    }
    return pa.table({c: cols[c] for c in REVIEW_COLUMNS}), {"empty_bodies": int(empty.sum())}


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict:
    """Write every input under ``out_dir``; return the generation stats
    (rows, bytes and planted shares per table)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = _star_schema(rng, sizes)
    tables["events"] = _events(rng, sizes)
    tables["documents"], planted = _documents(rng, sizes)
    tables["embeddings"] = _embeddings(rng, sizes)
    stats: dict = {"seed": seed, "sizes": asdict(sizes), "tables": {}}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write_parquet(table, path)
        stats["tables"][name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    n_docs = max(1, sizes.n_docs)
    stats["planted"] = {
        "exact_dup_share": planted["exact_dup"] / n_docs,
        "near_dup_share": planted["near_dup"] / n_docs,
        "pii_share": planted["pii"] / n_docs,
        "hot_user_share": float(
            np.mean(tables["events"].column("user_id").to_numpy() == 0)
        ),
    }
    if sizes.n_reviews:
        reviews, rstats = _reviews(rng, sizes)
        path = os.path.join(out_dir, "reviews.tsv")
        with pa.OSFile(path, "wb") as f:
            f.write(("\t".join(REVIEW_COLUMNS) + "\n").encode())
            pacsv.write_csv(
                reviews, f,
                pacsv.WriteOptions(delimiter="\t", quoting_style="none", include_header=False),
            )
        stats["tables"]["reviews"] = {"rows": reviews.num_rows, "bytes": os.path.getsize(path)}
        stats["planted"]["empty_body_share"] = rstats["empty_bodies"] / sizes.n_reviews
    return stats
