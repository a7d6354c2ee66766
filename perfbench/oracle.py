"""Correctness of a run's outputs, checked in DuckDB outside the timed work.

Batch queries: each query's `SparkEntry.oracleSql` is run against the
generated tables and compared with the Spark output by the repository's own
`tools/check.py` compare, with strict dtypes.

Stream: the union of emitted (min, max) pairs is compared with p05's batch
any-band candidate set over the same files. The band state keeps a doc for a
horizon shorter than the run, so which distant pairs are still found depends
on how files fall into micro-batches; the emitted set must therefore be a
subset of p05's set. It must also hold every p05 pair whose doc ids (event
times, one second apart) are at most two horizons apart: docs arrive in id
order, the watermark trails the previous batch's newest doc by one horizon,
and a doc leaves the state one horizon behind the watermark, so such a pair
is always matched; bands are uncapped. Each measured query first reads one
warm-up file, whose doc ids come before the run's; pairs with its docs are
not checked.
"""
import glob
import hashlib
import importlib.util
import json
import os

import duckdb
import pandas as pd


def _check_module(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.STRICT_DTYPES = True
    return mod


def _views(con, tables):
    for name, pattern in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{pattern}')")


def check_batch(root, input_dir, out_dir, queries, failed):
    """query -> list of problems, for every query that ran without failing."""
    check = _check_module(root)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    _views(con, {t: os.path.join(input_dir, f"{t}.parquet", "*.parquet")
                 for t in ["region", "nation", "customer", "supplier", "part", "orders",
                           "lineitem", "events", "documents", "embeddings"]})
    problems = {}
    for q in queries:
        if q in failed:
            continue
        files = sorted(glob.glob(os.path.join(out_dir, "outputs", q, "*.parquet")))
        if q not in oracle:
            problems[q] = ["no oracle SQL"]
        elif not files:
            problems[q] = ["no Spark output"]
        else:
            spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            p = check.compare(q, spark_df, con.execute(oracle[q]).fetchdf())
            if p:
                problems[q] = p
    return problems


def expected_pairs(input_dir, out_dir):
    """p05's pairs over the staged files, kept beside the inputs per oracle
    SQL, since the same seed always gives the same files."""
    sql = json.load(open(os.path.join(out_dir, "oracle_sql.json")))["p05_minhash_pairs"]
    cache = os.path.join(input_dir, "p05-" + hashlib.sha256(sql.encode()).hexdigest()[:12] + ".json")
    if not os.path.exists(cache):
        con = duckdb.connect()
        _views(con, {"documents": os.path.join(input_dir, "staged", "*.parquet")})
        rows = [[int(a), int(b)] for a, b in con.execute(sql).fetchall()]
        with open(cache + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(cache + ".tmp", cache)
    return {(a, b) for a, b in json.load(open(cache))}


def check_stream(input_dir, out_dir, runs, horizon_s):
    """label -> problem, for every schedule whose pairs are not between the
    pairs within two horizons and all of p05's pairs."""
    allowed = expected_pairs(input_dir, out_dir)
    required = {(a, b) for a, b in allowed if b - a <= 2 * horizon_s}
    # pairs with a doc of the priming file (doc ids before the run's) are
    # not checked
    con = duckdb.connect()
    first = con.execute("SELECT min(doc_id) FROM read_parquet('"
                        + os.path.join(input_dir, "staged", "*.parquet") + "')").fetchone()[0]
    problems = {}
    for r in runs:
        got = {(a, b) for a, b in r["pairs"] if a >= first}
        if not required <= got <= allowed:
            problems[r["label"]] = (f"{len(got - allowed)} unexpected pairs and "
                                    f"{len(required - got)} missing of the {len(required)} "
                                    f"within two horizons")
    return problems
