"""The `catalog_cold` workload: a fixed slice of the query catalog, each
query cold, on a corpus the benchmark generates itself.

The corpus has the schema of the program's test corpus (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`) at about 1/100 of
TPC-H scale factor 1. It is fixed: the seed does not change it. Each query
result is checked against the query's DuckDB oracle SQL.
"""
import hashlib
import os

import numpy as np

# one query per family (graph loop, text, dedup, relational) that fits
# the run budget, plus the KPI query and the two report queries over
# `events`
QUERIES = ["q123_cheapest_routes", "q92_bm25_topk", "q33_simhash_near_dups",
           "q10_pricing_summary", "q01_kpi_daily", "q03_report_endpoint",
           "q04_report_global"]
KPI_QUERY = "q01_kpi_daily"
REPORT_QUERIES = ["q03_report_endpoint", "q04_report_global"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
SCALE = 0.01
CORPUS_SEED = 20240301
WORDS = ("join hash row batch scan customer column filter small slow merge order vector "
         "line data table agg value key stream window spark a group part big sort query "
         "fast the").split()


def make_corpus(d):
    import duckdb
    import pandas as pd
    rng = np.random.default_rng(CORPUS_SEED)
    sf = SCALE
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    day = np.datetime64("1995-01-01")
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype(np.int32)})

    def money(lo, hi, n):
        return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0

    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(segs, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    colors = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(types, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0})
    odate = day + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": (day + rng.integers(1, 2500, n_li).astype("timedelta64[D]"))
        .astype("datetime64[us]")})
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_doc)
    vec = centers[label] + rng.normal(0, 0.5, (n_doc, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({"vec_id": np.arange(n_doc, dtype=np.int64),
                                    "embedding": list(vec), "label": label.astype(np.int32)})
    con = duckdb.connect()
    for name, df in t.items():
        con.register("df", df)
        sel = "* REPLACE (embedding::FLOAT[] AS embedding)" if name == "embeddings" else "*"
        con.execute(f"COPY (SELECT {sel} FROM df) TO '{os.path.join(d, name)}.parquet' "
                    "(FORMAT PARQUET)")
        con.unregister("df")


def corpus_hash(d):
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(d, f"{name}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _dtype_class(dt):
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "time",
            "m": "time"}.get(dt.kind, "other")


def check_query(con, cache_dir, name, sql, out_dir):
    """Compare a Spark result with its DuckDB oracle: columns sorted by
    name, same dtype class, exact values row by row."""
    import pandas as pd
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    cached = os.path.join(cache_dir, f"{name}-{key}.parquet")
    if not os.path.exists(cached):
        con.execute(f"COPY ({sql}) TO '{cached}.tmp' (FORMAT PARQUET)")
        os.rename(cached + ".tmp", cached)
    got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
    want = con.execute(f"SELECT * FROM read_parquet('{cached}')").df()
    got, want = got[sorted(got.columns)], want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{name}: rows {len(got)} != {len(want)}"
    for c in got.columns:
        if _dtype_class(got[c].dtype) != _dtype_class(want[c].dtype):
            return f"{name}: dtype of {c} {got[c].dtype} != {want[c].dtype}"
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            both_na = False
            try:
                both_na = bool(pd.isna(x) and pd.isna(y))
            except (TypeError, ValueError):
                pass
            if not both_na and x != y:
                return f"{name}: col {c} row {i}: spark={x!r} duckdb={y!r}"
    return None
