"""Correctness verdicts of one run, from the JVM's raw record. Each returns
(attempted, failed, problems): the operations the run attempted, how many
of them failed (an error and a wrong output both count), and a short
description of each problem."""
import glob
import math
import os
from collections import Counter

import stats


def kpi_stream(res, progress):
    """An operation is a published segment. The store's 8 tables must equal
    the batch KPIs over every published segment; a segment no trigger
    covered is missing, and committed rows beyond the published ones mean
    a segment was committed twice."""
    rps = res["rows_per_segment"]
    n = res["startup_segments"] + res["live_segments"] + res["backlog_segments"]
    owner = stats.attribute([rps] * n, progress)
    missing = sum(1 for o in owner if o is None)
    problems = [f"{missing} segments never committed"] if missing else []
    wrong = sorted(t for t, v in res["check"].items() if Counter(v["got"]) != Counter(v["want"]))
    if wrong:
        problems.append("tables differ from batch KPIs: " + ", ".join(wrong))
    committed = sum(int(r.split("|")[0]) for r in res["check"]["gender_counts"]["got"])
    off = math.ceil(abs(committed - n * rps) / rps)
    if off:
        problems.append(f"store holds {committed} rows, {n * rps} published")
    failed = min(n, max(missing, off, 1 if wrong else 0))
    return n, failed, problems


def event_state(res):
    """An operation is one drain of one operator. Transitions must equal the
    batch `w12_transitions` with nothing dropped as late; distinct counts
    must equal the batch per-user count_distinct with no sketch rows."""
    c = res["check"]
    bad = {}
    t = c["transitions"]
    if Counter(t["got"]) != Counter(t["want"]) or not t["got"]:
        bad["transitions"] = "transition table differs from w12_transitions"
    elif t["dropped_late"]:
        bad["transitions"] = f"{t['dropped_late']} events dropped as late"
    d = c["distinct"]
    if Counter(d["got"]) != Counter(d["want"]) or not d["got"]:
        bad["distinct"] = "distinct counts differ from batch count_distinct"
    elif d["approx_rows"]:
        bad["distinct"] = f"{d['approx_rows']} approximate rows"
    drains = res["drains"]
    failed = sum(1 for x in drains if x["operator"] in bad)
    return len(drains), failed, sorted(bad.values())


def frames_equal(got, want):
    """The oracle comparison: columns sorted by name, then names, row
    count, values in row order and dtypes must all agree."""
    import pandas as pd
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if (a.astype(object).where(pd.notna(a), None).tolist()
                != b.astype(object).where(pd.notna(b), None).tolist()):
            return f"values of {c} differ"
    da = {c: str(got[c].dtype) for c in got.columns}
    db = {c: str(want[c].dtype) for c in want.columns}
    if da != db:
        return f"dtypes {da} != {db}"
    return None


def registry_mix(res, expected_dir):
    """An operation is one query execution, of the mix or of the floor
    block. It fails on an error or when its row count differs from the
    expected result's. The full output of every query, written by its
    execution in the mix, must also match the expected result value for
    value; if it does not, every execution of that query fails. The expected results are the DuckDB
    oracle's answers (see `perfbench/expected.py`)."""
    import pyarrow.parquet as pq
    problems = []
    bad = set()
    runs = res["execs"] + res["floor_execs"]
    for i, e in enumerate(runs):
        want_rows = pq.read_metadata(os.path.join(expected_dir, e["query"] + ".parquet")).num_rows
        if e["error"]:
            bad.add(i)
            problems.append(f"{e['query']}: {e['error']}")
        elif e["rows"] != want_rows:
            bad.add(i)
            problems.append(f"{e['query']}: {e['rows']} rows, expected {want_rows}")
    for q in sorted({e["query"] for e in res["execs"]}):
        errors = [e["write_error"] for e in res["execs"] if e["query"] == q and e.get("write_error")]
        files = glob.glob(os.path.join(res["output_dir"], q, "*.parquet"))
        if errors:
            why = errors[0]
        elif not files:
            why = "no output written"
        else:
            got = pq.ParquetDataset(files).read().to_pandas()
            why = frames_equal(got, pq.read_table(os.path.join(expected_dir, q + ".parquet")).to_pandas())
        if why:
            problems.append(f"{q}: {why}")
            bad.update(i for i, e in enumerate(runs) if e["query"] == q)
    return len(runs), len(bad), problems
