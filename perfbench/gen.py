"""Seeded input generators for the benchmark workloads.

Tweets (``tweets_csv``) follow the row shape of the repository's
1M-row corpus generator: ``id,label,Sentiment140,text`` with @mentions,
URLs and interior commas, and label-correlated class words so the
classifiers have signal. Two profiles:

- ``small``: the remaining words come from a 20-word filler list, so the
  cleaned vocabulary stays far below ``svm_train_declared``'s
  ``literal_map_max=4096`` and SVM takes the literal-map path.
- ``zipf``: the remaining words are drawn from a Zipf(1.0) vocabulary of
  2^18 ranks, so the cleaned vocabulary is tens of thousands of words
  and SVM takes its distributed fallback. Row count, row length and the
  mention/URL/comma mix are the same as ``small``, so cleaning costs the
  same per row.

Registry tables (``registry_tables``) are TPC-H-shaped parquet files with
the schemas and value domains of the repository's testdata, drawn from
the seed, so the registry queries and their DuckDB oracles run on inputs
the benchmark makes itself.

Every generator uses ``random.Random(seed)`` only, so the same seed gives
byte-identical inputs on any Python 3.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
from datetime import datetime, timedelta

from reference import vocab_size

POS = "love great happy sun awesome win smile friend good best nice fun".split()
NEG = "hate bad sad rain awful lose cry alone worst terrible ugh mad".split()
FILL = ("the a to and of in on it is was for with at this that day time "
        "work school").split()
ZIPF_RANKS = 1 << 18

_ABC = "abcdefghijklmnopqrstuvwxyz"


def _base26(z: int) -> str:
    out = ""
    while True:
        out = _ABC[z % 26] + out
        z //= 26
        if z == 0:
            return out


def _zipf_cum(ranks: int, s: float = 1.0) -> list[float]:
    return list(itertools.accumulate(1.0 / (k ** s) for k in range(1, ranks + 1)))


def tweet_lines(profile: str, n: int, seed: int) -> list[str]:
    """``n`` CSV lines of the given profile (``small`` or ``zipf``)."""
    if profile not in ("small", "zipf"):
        raise ValueError(f"unknown tweets profile {profile!r}")
    rng = random.Random(seed)
    if profile == "zipf":
        cum = _zipf_cum(ZIPF_RANKS)
        total = cum[-1]

        def other() -> str:
            return "q" + _base26(bisect.bisect_left(cum, rng.random() * total))
    else:
        def other() -> str:
            return rng.choice(FILL)
    lines = []
    for i in range(n):
        lab = rng.randrange(2)
        cls = POS if lab else NEG
        words = [rng.choice(cls) if rng.random() < 0.4 else other()
                 for _ in range(rng.randint(6, 18))]
        if rng.random() < 0.15:
            words.insert(0, f"@user{rng.randrange(997)}")
        if rng.random() < 0.10:
            words.append(f"http://t.co/x{rng.randrange(89)}")
        if rng.random() < 0.20:
            words.insert(len(words) // 2, "so,")  # interior comma
        lines.append(f"{i},{lab},Sentiment140,{' '.join(words)}")
    return lines


def tweets_csv(path: str, profile: str, n: int, seed: int) -> dict:
    """Write one tweets CSV; return its size record."""
    lines = tweet_lines(profile, n, seed)
    data = "\n".join(lines) + "\n"
    with open(path, "w") as f:
        f.write(data)
    raw = {w for line in lines for w in line.split(",", 3)[3].split(" ")}
    return {"path": os.path.basename(path), "profile": profile, "seed": seed,
            "rows": n, "bytes": len(data.encode()),
            "distinct_raw_tokens": len(raw),
            "distinct_tokens_chain_a": vocab_size(lines, "nb"),
            "distinct_tokens_chain_b": vocab_size(lines, "svm")}


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "old", "new", "hot", "cold", "red", "blue"]
PART_NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = ("a the fast slow big small key order sort table scan merge part "
             "window hash join batch stream spark group query row data filter "
             "customer line value agg column vector dup").split()
EMBED_DIM = 64

# Row counts of the smallest testdata scale factor (TESTDATA.md, sf0.001).
SF_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
           "lineitem": 6000, "events": 1000, "documents": 500,
           "embeddings": 500}


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _day(rng: random.Random, start: datetime, days: int) -> datetime:
    return start + timedelta(days=rng.randrange(days))


def registry_tables(out_dir: str, seed: int) -> dict:
    """Write the ten registry tables as parquet; return their row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    n = SF_ROWS
    t: dict[str, dict[str, list]] = {}
    t["region"] = {"r_regionkey": list(range(5)), "r_name": REGIONS}
    t["nation"] = {"n_nationkey": list(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]}
    t["customer"] = {
        "c_custkey": list(range(n["customer"])),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": [rng.randrange(25) for _ in range(n["customer"])],
        "c_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n["customer"])]}
    t["supplier"] = {
        "s_suppkey": list(range(n["supplier"])),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": [rng.randrange(25) for _ in range(n["supplier"])],
        "s_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n["supplier"])]}
    t["part"] = {
        "p_partkey": list(range(n["part"])),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                   for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": [rng.randint(1, 50) for _ in range(n["part"])],
        "p_retailprice": [round(900 + (i % 200) / 10, 2) for i in range(n["part"])]}
    d0 = datetime(1995, 1, 1)
    t["orders"] = {
        "o_orderkey": list(range(n["orders"])),
        "o_custkey": [rng.randrange(n["customer"]) for _ in range(n["orders"])],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [_money(rng, 1000, 500000) for _ in range(n["orders"])],
        "o_orderdate": [_day(rng, d0, 2405) for _ in range(n["orders"])],
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n["orders"])]}
    t["lineitem"] = {
        "l_orderkey": [rng.randrange(n["orders"]) for _ in range(n["lineitem"])],
        "l_partkey": [rng.randrange(n["part"]) for _ in range(n["lineitem"])],
        "l_suppkey": [rng.randrange(n["supplier"]) for _ in range(n["lineitem"])],
        "l_linenumber": [rng.randint(1, 7) for _ in range(n["lineitem"])],
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n["lineitem"])],
        "l_extendedprice": [_money(rng, 900, 105000) for _ in range(n["lineitem"])],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n["lineitem"])],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n["lineitem"])],
        "l_returnflag": [rng.choice("ANR") for _ in range(n["lineitem"])],
        "l_linestatus": [rng.choice("FO") for _ in range(n["lineitem"])],
        "l_shipdate": [_day(rng, d0 + timedelta(days=1), 2498)
                       for _ in range(n["lineitem"])]}
    e0 = datetime(2024, 1, 1)
    ts = sorted(e0 + timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
                for _ in range(n["events"]))
    t["events"] = {
        "event_id": list(range(n["events"])), "ts": ts,
        "user_id": [rng.randrange(15) for _ in range(n["events"])],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n["events"])],
        "value": [_money(rng, 0.01, 330) for _ in range(n["events"])],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n["events"])]}
    texts: list[str] = []
    for _ in range(n["documents"]):
        if texts and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
        else:
            words = [rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    t["documents"] = {
        "doc_id": list(range(n["documents"])), "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n["documents"])],
        "source": [f"src{rng.randrange(20)}" for _ in range(n["documents"])],
        "n_chars": [len(x) for x in texts]}
    centers = [[rng.gauss(0, 0.03) for _ in range(EMBED_DIM)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n["embeddings"]):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 0.125) for c in centers[lab]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(lab)
    t["embeddings"] = {"vec_id": list(range(n["embeddings"])),
                       "embedding": vecs, "label": labels}

    # the testdata's int32 columns; every other type follows the Python values
    i32 = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey",
           "s_nationkey", "p_size", "l_linenumber", "label"}
    counts = {}
    for name, cols in t.items():
        fields = []
        for col, vals in cols.items():
            v0 = vals[0]
            if col in i32:
                typ = pa.int32()
            elif isinstance(v0, int):
                typ = pa.int64()
            elif isinstance(v0, float):
                typ = pa.float64()
            elif isinstance(v0, datetime):
                typ = pa.timestamp("us")
            elif isinstance(v0, list):
                typ = pa.list_(pa.float32())
            else:
                typ = pa.string()
            fields.append(pa.field(col, typ))
        table = pa.Table.from_pydict(cols, schema=pa.schema(fields))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
