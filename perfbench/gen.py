"""Seeded input generators for the benchmark.

Every value is integer arithmetic on a row id and a seeded 64-bit mix
(splitmix64), so the same seed gives identical files on any machine.

pb-etl inputs: the column-arithmetic generator of PbEtlScaleSpec, with
the seed shifting the key bases and rotating every categorical column.
`expected.json` carries the closed-form values the check compares
against: row counts, the five max denominators and the actual deletion
rate.

Query tables: the TPC-H-like star schema plus events, documents and
embeddings, with the names, types and value domains the query registry
reads, one parquet file per table.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x):
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & M64
        return x ^ (x >> np.uint64(31))


def _tag(s):
    v = 1469598103934665603
    for ch in s.encode():
        v = ((v ^ ch) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return np.uint64(v)


def h(seed, tag, m, *cols):
    """Uniform integers in [0, m) from (seed, tag, cols...)."""
    x = _mix(np.full(len(cols[0]), np.uint64(seed & 0xFFFFFFFFFFFFFFFF)) ^ _tag(tag))
    for c in cols:
        x = _mix(x ^ np.asarray(c).astype(np.uint64))
    return (x % np.uint64(m)).astype(np.int64)


def u(seed, tag, *cols):
    """Uniform doubles in [0, 1) at 1e-6 resolution."""
    return h(seed, tag, 1000000, *cols) / 1e6


def pick(values, idx):
    return np.asarray(values, dtype=object)[idx]


# ------------------------------------------------------------------ pb-etl

def pb_attr(n, key_base, seed, with_target):
    i = np.arange(n, dtype=np.int64)

    def cat(k, m):
        return (i + (seed * 31 + k * 7) % 1000003) % m

    cols = {
        "TRANSACTION_ID": i + key_base,
        "TLD": np.char.add("TLD", cat(1, 5).astype(str)),
        "REN": i % 9,
        "REGISTRAR_NAME": np.char.add("ACC ", cat(2, 20).astype(str)),
        "GL_CODE_NAME": np.char.add("GL", cat(3, 4).astype(str)),
        "COUNTRY": np.char.add("CNTR ", cat(4, 30).astype(str)),
        "DOMAIN_LENGTH": 3 + i % 20,
        "HISTORY": np.char.add(np.char.add("/AR:", cat(5, 3).astype(str)),
                               np.char.add("/TR:", cat(6, 2).astype(str))),
        "TRANSFERS": i % 3,
        "TERM_LENGTH": np.char.add("TL", cat(7, 10).astype(str)),
        "RES30": cat(8, 2),
        "RESTORES": i % 4,
        "REREG": np.where(cat(9, 2) == 0, "Y", "N"),
        "QTILE": np.char.add("Q", (cat(10, 4) + 1).astype(str)),
        "HD": pick(["A", "B", "C"], cat(11, 3)),
        "NS_V0": (i * 2654435761 % 1000) / 1000.0,
        "NS_V1": (i * 40503 % 1000) / 1000.0,
        "NS_V2": (i * 69069 % 1000) / 1000.0,
    }
    if with_target:
        cols["TARGET"] = (cols["REN"] + cols["DOMAIN_LENGTH"]) % 2
    return cols


def write_pbetl(root, n_train, n_test, seed):
    train_base = 1000000 + (abs(seed) % 1000) * 10000
    test_base = 90000000 + (abs(seed) % 997) * 10000

    def csv(cols, sub):
        os.makedirs(f"{root}/{sub}", exist_ok=True)
        pacsv.write_csv(pa.table({k: pa.array(list(v) if v.dtype == object else v)
                                  for k, v in cols.items()}),
                        f"{root}/{sub}/part-0.csv")

    def tscore(n, base):
        i = np.arange(n, dtype=np.int64)
        return {"TRANSACTION_ID": i + base, "TRAFFIC_SCORE": (i % 100) / 1e5}

    csv(pb_attr(n_train, train_base, seed, True), "train/attr")
    csv(tscore(n_train, train_base), "train/tscore")
    test = pb_attr(n_test, test_base, seed, False)
    csv(test, "test/attr")
    csv(tscore(n_test, test_base), "test/tscore")
    actual = pb_attr(n_test, test_base, seed, True)
    csv({k: actual[k] for k in ("TRANSACTION_ID", "TARGET")}, "results")
    expected = {
        "rows": {"LoadData": n_train, "LoadTest": n_test, "Predict": n_test,
                 "BackTest": n_test},
        "denominators": {"REN": 8.0, "DOMAIN_LENGTH": 22.0, "TRANSFERS": 2.0,
                         "RESTORES": 3.0, "TRAFFIC_SCORE": 99.0 / 1e5},
        "actual_rate": float(actual["TARGET"].sum()) / n_test,
        "input_rows": 2 * n_train + 3 * n_test,
    }
    with open(f"{root}/expected.json", "w") as fh:
        json.dump(expected, fh)
    return expected


# ------------------------------------------------------------ query tables

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]
DAY_US = 86400 * 1000000
EPOCH_1995 = 788918400 * 1000000
EPOCH_2024 = 1704067200 * 1000000


def table_rows(sf):
    def s(base, floor=1):
        return max(floor, int(round(base * sf)))
    return {"region": 5, "nation": 25, "supplier": s(1e4), "customer": s(1.5e5),
            "part": s(2e5), "orders": s(1.5e6), "events": s(1e6),
            "documents": s(5e4, 500), "embeddings": s(2e4, 500)}


def _cents(x):
    return np.round(x, 2)


def write_tables(out, sf, seed):
    n = table_rows(sf)
    os.makedirs(out, exist_ok=True)
    ar = {t: np.arange(k, dtype=np.int64) for t, k in n.items()}
    ts = pa.timestamp("us")
    t = {}
    i = ar["region"]
    t["region"] = {"r_regionkey": pa.array(i, pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    i = ar["nation"]
    t["nation"] = {"n_nationkey": pa.array(i, pa.int32()),
                   "n_name": [f"NATION_{k}" for k in i],
                   "n_regionkey": pa.array(i % 5, pa.int32())}
    i = ar["supplier"]
    t["supplier"] = {"s_suppkey": i, "s_name": [f"Supplier#{k:09d}" for k in i],
                     "s_nationkey": pa.array(h(seed, "s_nat", 25, i), pa.int32()),
                     "s_acctbal": _cents(u(seed, "s_bal", i) * 10999.98 - 999.99)}
    i = ar["customer"]
    t["customer"] = {"c_custkey": i, "c_name": [f"Customer#{k:09d}" for k in i],
                     "c_nationkey": pa.array(h(seed, "c_nat", 25, i), pa.int32()),
                     "c_acctbal": _cents(u(seed, "c_bal", i) * 10999.98 - 999.99),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"], h(seed, "c_seg", 5, i))}
    i = ar["part"]
    adj = pick(["small", "large", "red", "cold", "shiny", "green", "tiny", "old"],
               h(seed, "p_adj", 8, i))
    noun = pick(["widget", "bolt", "ring", "gear", "nut", "screw", "spring", "valve"],
                h(seed, "p_noun", 8, i))
    t["part"] = {"p_partkey": i, "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
                 "p_brand": [f"Brand#{k + 1}" for k in h(seed, "p_brand", 25, i)],
                 "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                                h(seed, "p_type", 6, i)),
                 "p_size": pa.array(h(seed, "p_size", 50, i) + 1, pa.int32()),
                 "p_retailprice": 900.0 + (i % 1000) / 10.0}
    i = ar["orders"]
    odate = EPOCH_1995 + h(seed, "o_date", 2400, i) * DAY_US
    t["orders"] = {"o_orderkey": i, "o_custkey": h(seed, "o_cust", n["customer"], i),
                   "o_orderstatus": pick(["F", "O", "P"], h(seed, "o_st", 3, i)),
                   "o_totalprice": _cents(u(seed, "o_price", i) * 498990.0 + 1000.0),
                   "o_orderdate": pa.array(odate, ts),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], h(seed, "o_pri", 5, i))}
    # 1-7 lines per order, numbered from 1
    lines = h(seed, "l_n", 7, i) + 1
    o = np.repeat(i, lines)
    ln = np.arange(len(o)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    t["lineitem"] = {
        "l_orderkey": o, "l_partkey": h(seed, "l_part", n["part"], o, ln),
        "l_suppkey": h(seed, "l_supp", n["supplier"], o, ln),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": (h(seed, "l_qty", 50, o, ln) + 1).astype(np.float64),
        "l_extendedprice": _cents(u(seed, "l_ext", o, ln) * 104000.0 + 900.0),
        "l_discount": h(seed, "l_disc", 11, o, ln) / 100.0,
        "l_tax": h(seed, "l_tax", 9, o, ln) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], h(seed, "l_rf", 3, o, ln)),
        "l_linestatus": pick(["F", "O"], h(seed, "l_ls", 2, o, ln)),
        "l_shipdate": pa.array(np.repeat(odate, lines) + (h(seed, "l_ship", 95, o, ln) + 1) * DAY_US,
                               ts)}
    i = ar["events"]
    step = 30 * DAY_US // n["events"]
    t["events"] = {"event_id": i,
                   "ts": pa.array(EPOCH_2024 + i * step + h(seed, "e_ts", step, i), ts),
                   "user_id": h(seed, "e_user", max(150, n["customer"] // 10), i),
                   "event_type": pick(["click", "error", "purchase", "signup", "view"],
                                      h(seed, "e_type", 5, i)),
                   "value": _cents(u(seed, "e_val", i) * 490.01 + 0.01),
                   "props": [f'{{"k": {k}}}' for k in h(seed, "e_k", 100, i)]}
    i = ar["documents"]
    # one doc in 20 repeats an earlier doc's text plus a marker word
    dup = (h(seed, "d_dup", 20, i) == 0) & (i > 0)
    back = h(seed, "d_src", 10, i) % np.maximum(i, 1)
    content = np.where(dup, i - 1 - back, i)
    nwords = h(seed, "d_len", 90, content) + 10
    texts = []
    for c, k, d in zip(content, nwords, dup):
        pos = np.arange(1, k + 1)
        ws = pick(WORDS, h(seed, "d_word", len(WORDS), np.full(k, c), pos))
        texts.append(" ".join(ws) + (" dup" if d else ""))
    t["documents"] = {"doc_id": i, "text": texts,
                      "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"],
                                   h(seed, "d_lang", 7, i)),
                      "source": [f"src{k}" for k in i % 20],
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    i = ar["embeddings"]
    label = h(seed, "v_label", 10, i)
    j = np.arange(64)
    ii, jj = np.meshgrid(i, j, indexing="ij")
    ll = np.repeat(label, 64).reshape(-1, 64)
    emb = ((u(seed, "v_center", ll.ravel(), jj.ravel()) - 0.5) * 0.4 +
           (u(seed, "v_noise", ii.ravel(), jj.ravel()) - 0.5) * 0.2).astype(np.float32)
    t["embeddings"] = {"vec_id": i,
                       "embedding": pa.ListArray.from_arrays(
                           pa.array(np.arange(0, 64 * len(i) + 1, 64, dtype=np.int32)),
                           pa.array(emb, pa.float32())),
                       "label": pa.array(label, pa.int32())}
    rows = {}
    for name, cols in t.items():
        tbl = pa.table({k: (v if isinstance(v, (pa.Array, pa.ChunkedArray))
                            else pa.array(list(v) if getattr(v, "dtype", None) == object else v))
                        for k, v in cols.items()})
        pq.write_table(tbl, f"{out}/{name}.parquet")
        rows[name] = tbl.num_rows
    with open(f"{out}/expected.json", "w") as fh:
        json.dump({"input_rows": sum(rows.values()), "rows": rows}, fh)
    return rows
