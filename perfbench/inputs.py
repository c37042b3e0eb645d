"""Seeded benchmark inputs and their expected answers.

Everything here runs in the harness process before the measured worker
starts: it writes parquet with pyarrow, computes every expected answer
(DuckDB for registry queries, numpy or a naive Python fold for the
MapReduce jobs, pandas for the stream) and pickles them next to the
inputs. The
same seed always gives byte-identical tables and answers.
"""

from __future__ import annotations

import json
import math
import os
import pickle
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-query declared input tables: rows_per_s counts these tables'
# generated rows, never Spark's inputRecords, so pruning cannot lower it.
DATAFRAME_QUERIES = {
    "q01_pricing_summary": ("lineitem",),
    "q13_window_topk_per_group": ("customer", "nation"),
    "t01_exact_dedup": ("documents",),
}

WORDS = (
    "a the data spark key value table row column join group order sort "
    "scan filter merge hash batch stream window query part line customer "
    "agg big small fast slow index shard cache page block file node task "
    "stage job map reduce shuffle spill commit offset state trigger pull "
    "chunk loader worker driver plan cost"
).split()

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
US_PER_DAY = 86_400_000_000


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    """A dataset directory of ``parts`` files, as a Spark job writing
    with that many tasks leaves it; each file is one input split."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def write_query_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The tables the registry queries read (a TPC-H-ish star schema
    slice and documents), with the column types of the
    repository's fixture tables. Returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_docs = max(40, int(50_000 * sf))
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        pq.write_table(t, f"{out_dir}/{name}.parquet")
        rows[name] = t.num_rows

    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
    })
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    order_date = EPOCH_1995 + order_day * np.timedelta64(US_PER_DAY, "us")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2)),
        "o_orderdate": pa.array(order_date),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_orders)]),
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = order_date[okey] + rng.integers(1, 500, n_li) * np.timedelta64(US_PER_DAY, "us")
    put("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship),
    })
    put("documents", _documents(rng, n_docs))
    return rows


def write_events(path: str, rng: np.random.Generator, n: int) -> None:
    """events(event_id, ts, user_id, event_type, value, props) over 30
    days of January 2024, in event_id order."""
    offs = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + offs * np.timedelta64(1, "us")),
        "user_id": pa.array(rng.integers(0, max(10, n // 50), n).astype(np.int64)),
        "event_type": pa.array(kinds[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.0, 100.0, n), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }), path)


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random-word documents, about 5% of them exact copies of an
    earlier one (what t01 finds)."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(20, 90)))]))
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs[rng.integers(0, 6, n)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


# -- canonical result form ---------------------------------------------


def canon_value(v) -> str:
    """The differential suite's canonical cell: floats at 9 significant
    digits, everything else by repr."""
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return repr(v)


def canonical_rows(rows, colnames) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """Order-insensitive form: columns sorted by name, rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return tuple(sorted(colnames)), out


# -- MapReduce job inputs --------------------------------------------


def write_compat_inputs(out_dir: str, seed: int, sizes: dict) -> dict:
    """Three parquet datasets for the three job shapes, plus each job's
    expected {key: acc}. Folds are computed without Spark: numpy counts
    and a naive Python fold in file order (the order ordered=True
    folds in)."""
    from jobs import ordered_step

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    expected: dict[str, dict] = {}
    rows: dict[str, int] = {}
    parts = sizes["files"]

    n = sizes["dice_rows"]
    roll = rng.integers(1, 7, n).astype(np.int32)
    _write_parts(pa.table({"roll_id": np.arange(n, dtype=np.int64), "roll": roll}),
                 f"{out_dir}/dice", parts)
    wins = int((roll == 3).sum())
    expected["dice"] = {"Win": wins, "Lose": n - wins}
    rows["dice"] = n

    n, k = sizes["keyed_rows"], sizes["keyed_keys"]
    gk = rng.integers(0, k, n).astype(np.int64)
    amount = rng.integers(1, 100, n).astype(np.int64)
    _write_parts(pa.table({"record_id": np.arange(n, dtype=np.int64), "group_key": gk,
                           "amount": amount}), f"{out_dir}/keyed", parts)
    sums = np.bincount(gk, weights=amount, minlength=k).astype(np.int64)
    expected["keyed"] = {int(i): int(s) for i, s in enumerate(sums) if s}
    rows["keyed"] = n

    n, k = sizes["ordered_rows"], sizes["ordered_keys"]
    ok = rng.integers(0, k, n).astype(np.int64)
    ov = rng.integers(0, 1000, n).astype(np.int64)
    # one file: Spark packs several files into splits by size, so only a
    # single split has a read order the expected fold can replay
    _write_parts(pa.table({"record_id": np.arange(n, dtype=np.int64), "group_key": ok,
                           "v": ov}), f"{out_dir}/ordered", 1)
    accs: dict[int, int] = defaultdict(int)
    for key, v in zip(ok.tolist(), ov.tolist()):
        accs[key] = ordered_step(v, accs[key])
    expected["ordered"] = dict(accs)
    rows["ordered"] = n
    return {"rows": rows, "expected": expected}


# -- per-workload preparation ------------------------------------------


def duck_expected(sf_dir: str, names, threads: int) -> dict[str, tuple]:
    """Canonical DuckDB oracle answer per registry query, resolving any
    oracle_factory against THIS directory (a gate-fit literal would be
    a different query on these inputs)."""
    import duckdb

    from fsharp_mapreduce_spark.registry import QUERIES, load_all_query_modules

    load_all_query_modules()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        for t in sorted({t for ts in DATAFRAME_QUERIES.values() for t in ts}):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name in names:
            spec = QUERIES[name]
            sql = spec.oracle_factory(sf_dir) if spec.oracle_factory else spec.oracle_static
            if not sql:
                raise ValueError(f"{name} has no oracle")
            rel = con.sql(sql)
            out[name] = canonical_rows(rel.fetchall(), list(rel.columns))
        return out
    finally:
        con.close()


def hourly_event_counts(events_path: str) -> dict:
    """The batch answer of the events stream: {(hour, event_type): n}."""
    ev = pq.read_table(events_path, columns=["ts", "event_type"]).to_pandas()
    counts = ev.groupby([ev["ts"].dt.floor("h"), ev["event_type"]]).size()
    return {(ts.to_pydatetime(), et): int(n) for (ts, et), n in counts.items()}


def prepare(workload: str, data_dir: str, seed: int, sizes: dict, threads: int) -> dict:
    """Write the workload's inputs under data_dir, their declared rows
    and sizes to manifest.json, and the expected answers to
    expected.pkl (read only after set-up, so its load is not timed).
    Returns the manifest."""
    os.makedirs(data_dir, exist_ok=True)
    if workload == "batch":
        man = write_compat_inputs(data_dir, seed, sizes)
        rows = write_query_tables(data_dir, seed, sizes["sf"])
        man["rows"].update({q: sum(rows[t] for t in ts) for q, ts in DATAFRAME_QUERIES.items()})
        man["expected"].update(duck_expected(data_dir, list(DATAFRAME_QUERIES), threads))
    elif workload == "pull_stream":
        write_events(f"{data_dir}/events.parquet", np.random.default_rng(seed),
                     sizes["events_rows"])
        man = {
            "rows": {"events": sizes["events_rows"]},
            "expected": {"events": hourly_event_counts(f"{data_dir}/events.parquet")},
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    man["sizes"] = sizes
    man["seed"] = seed
    with open(f"{data_dir}/expected.pkl", "wb") as f:
        pickle.dump(man["expected"], f)
    with open(f"{data_dir}/manifest.json", "w") as f:
        json.dump({k: v for k, v in man.items() if k != "expected"}, f)
    return man
