"""Correctness step of a benchmark run, outside the timed region.

Every pass's output of every declared query is compared with DuckDB
running graft's oracle SQL (`SparkEntry.oracleSql`, written by the
harness as oracle_sql.json) on the same parquet files: row count, column
names and dtypes (columns sorted by name), and exact NaN-safe values in
order. q60 is compared with the connected components of q59's oracle
edge set (see `components`). Each streaming pass must satisfy replay == single batch: the
union of its microbatch verdicts equals the q86 (or q88) oracle output.
Each state table must hold exactly one committed `batch_id=` partition
per non-empty microbatch. No stored copy of an earlier output is used.
"""
import csv
import json
import math
import os
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# State tables each streaming twin keeps under its stateDir.
STATE_TABLES = {"stream_dedup": ["sets", "bands"], "stream_semantic": ["vectors"]}
STREAM_ORACLE = {"stream_dedup": "q86_incremental_dedup",
                 "stream_semantic": "q88_incremental_semantic"}


def _dtype(t):
    t = str(t)
    return "datetime" if t.startswith("datetime64") else t


def _same(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(name, got, want):
    """Problems found comparing a Spark output with its oracle frame."""
    if len(got) != len(want):
        return [f"{name}: rows {len(got)} != oracle {len(want)}"]
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return [f"{name}: columns {gcols} != oracle {wcols}"]
    g, w = got[gcols], want[gcols]
    gd, wd = [_dtype(t) for t in g.dtypes], [_dtype(t) for t in w.dtypes]
    if gd != wd:
        return [f"{name}: dtypes {list(zip(gcols, gd))} != oracle {list(zip(gcols, wd))}"]
    out = []
    for c in gcols:
        # Series.equals (same dtype, NaN equal to NaN in the same row)
        # implies the element rule below; only a column it rejects is
        # walked element by element.
        try:
            if g[c].equals(w[c]):
                continue
        except (TypeError, ValueError):
            pass
        bad = [(i, x, y) for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist()))
               if not _same(x, y)]
        if bad:
            out.append(f"{name}: column {c} differs in {len(bad)} rows, first {bad[:3]}")
    return out


def components(edges):
    """q60's declared output from its edge set, by union-find: one row per
    node on an edge, (doc_id, keeper = least id in its component,
    component_size), ordered by doc_id. This is what q60's recursive-CTE
    oracle computes; that closure materializes O(component^2) rows and
    does not finish at benchmark scale."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {n: find(n) for n in parent}
    size = pd.Series(list(roots.values())).value_counts()
    ids = sorted(roots)
    return pd.DataFrame({"doc_id": pd.array(ids, dtype="int64"),
                         "keeper": pd.array([roots[n] for n in ids], dtype="int64"),
                         "component_size": pd.array([size[roots[n]] for n in ids],
                                                    dtype="int64")})


def _verdicts(path):
    with open(path) as f:
        rows = [(int(r["id"]), r["verdict"]) for r in csv.DictReader(f)]
    return rows


def _state(op, pass_dir, batch_rows):
    """Problems with one streaming pass's durable state."""
    want = {f"batch_id={i}" for i, n in enumerate(batch_rows) if n > 0}
    out = []
    for t in STATE_TABLES[op]:
        d = Path(pass_dir) / "state" / t
        have = {p.name for p in d.iterdir() if p.name.startswith("batch_id=")} \
            if d.is_dir() else set()
        if have != want:
            out.append(f"{op} {d}: partitions {sorted(have)} != microbatches {sorted(want)}")
        for p in sorted(have & want):
            files = os.listdir(d / p)
            if "_SUCCESS" not in files or not any(f.endswith(".parquet") for f in files):
                out.append(f"{op} {d / p}: not a committed parquet partition")
    return out


def run(data, out, res):
    """All problems found in one run's outputs (empty list = correct).
    An operation's pass that failed while timed is counted as failed, not
    checked here; its other passes are checked."""
    failed = {(f["op"], f["pass"]) for f in res["failures"]}
    sql = json.loads((Path(out) / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{Path(out) / 'duckdb_tmp'}'")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    problems = []
    oracle = {}

    def ref(name):
        if name not in oracle:
            if name == "q60_dedup_clusters":
                e = ref("q59_minhash_md5")
                oracle[name] = components(zip(e["a"].tolist(), e["b"].tolist()))
            else:
                oracle[name] = con.execute(sql[name]).fetch_arrow_table().to_pandas()
        return oracle[name]

    for op in res["ops"]:
        if op in STREAM_ORACLE:
            want = ref(STREAM_ORACLE[op])
            want = sorted(zip(want.iloc[:, 0].tolist(), want.iloc[:, 1].tolist()))
            for s in res["state"]:
                if s["op"] != op or (op, s["pass"]) in failed:
                    continue
                rows = [m["rows"] for m in res["microbatches"]
                        if m["op"] == op and m["pass"] == s["pass"]]
                got = sorted(_verdicts(Path(out) / "outputs" / op / f"p{s['pass']}.csv"))
                if got != want:
                    diff = sorted(set(got) ^ set(want))[:5]
                    problems.append(f"{op} pass {s['pass']}: {len(got)} verdicts != "
                                    f"{STREAM_ORACLE[op]} oracle {len(want)}, e.g. {diff}")
                problems += _state(op, s["dir"], rows)
            continue
        for p in range(len(res["passes"])):
            if (op, p) in failed:
                continue
            path = Path(out) / "outputs" / op / f"p{p}"
            if not path.is_dir():
                problems.append(f"{op} pass {p}: no output written")
                continue
            problems += compare(f"{op} pass {p}", pq.read_table(path).to_pandas(), ref(op))
    return problems
