"""Output and trace checks of one benchmark run.

Every query's written result is compared with its DuckDB oracle
(SparkEntry.oracleSql) on the same generated parquet, under the
comparison rules of tools/oracle_probe.py: columns sorted by name,
temporal columns as epoch integers, exact values, row order first and
sorted rows as the fallback. Queries without an oracle are checked for
their row count and schema against perfbench/workloads.json.
"""
import glob
import importlib.util
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _probe():
    spec = importlib.util.spec_from_file_location(
        "oracle_probe", os.path.join(_ROOT, "tools", "oracle_probe.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(probe, want, got):
    """None when equal under the oracle rules, else the reason."""
    w, g = probe.norm(want), probe.norm(got)
    if list(w.columns) != list(g.columns):
        return f"columns {list(g.columns)} != oracle {list(w.columns)}"
    if len(w) != len(g):
        return f"rows {len(g)} != oracle {len(w)}"
    if probe.frames_equal(w, g):
        return None
    ws = w.sort_values(by=list(w.columns)).reset_index(drop=True)
    gs = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    return None if probe.frames_equal(ws, gs) else "value mismatch"


def check_outputs(out, data, errors, columns, no_oracle, names):
    """{query: reason} for every query that threw or whose output is wrong.

    `errors` maps each query that ran to its error (None when it ran
    cleanly); `columns` maps each query to its result schema."""
    probe = _probe()
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in probe.TABLES:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    failures = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(out, "rows", name, "*.parquet")))
        if name not in errors:
            failures[name] = "not run"
        elif errors[name] is not None:
            failures[name] = f"threw {errors[name][:200]}"
        elif not files:
            failures[name] = "no output"
        elif name in oracle:
            try:
                want = probe.temporal_to_int(con.execute(oracle[name]).arrow()).to_pandas()
            except Exception as e:  # an oracle that cannot run is a failed check
                failures[name] = f"oracle error {e}"
                continue
            why = compare(probe, want, pd.concat([probe.read_pq(f) for f in files]))
            if why:
                failures[name] = why
        elif name in no_oracle:
            exp = no_oracle[name]
            cols = columns.get(name)
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            if rows != exp["rows"] or cols != exp["columns"]:
                failures[name] = (f"rows {rows} columns {cols} != expected "
                                  f"{exp['rows']} {exp['columns']}")
        else:
            failures[name] = "no oracle and no declared row count/schema"
    con.close()
    return failures


def trace_selfcheck(trace, traced_pass, names):
    """Problems with the trace: a query the listeners saw no job or stage
    of, or a stage outside its query's wall time."""
    problems = []
    seen = trace["queries"]
    for n in names:
        if n not in seen:
            problems.append(f"query {n}: no job reached the listeners")
        elif not seen[n]["jobs"] or not seen[n]["stage_spans"]:
            problems.append(f"query {n}: the listeners recorded no job or stage")
    recs = {r["name"]: r for r in traced_pass}
    for n, q in seen.items():
        if n not in recs:
            continue
        lo, hi = recs[n]["start_ms"], recs[n]["end_ms"]
        problems += [f"query {n} stage {s['stage']} [{s['start_ms']}, {s['end_ms']}] "
                     f"outside its wall [{lo}, {hi}]"
                     for s in q["stage_spans"] if s["start_ms"] < lo or s["end_ms"] > hi]
    return problems


def require_declared(measured, defs, exact):
    """Exit without a result unless the measured metric names match the declared ones."""
    declared = {m["name"] for m in defs}
    missing = declared - set(measured)
    extra = set(measured) - declared if exact else set()
    if missing or extra:
        raise SystemExit(f"perfbench: metric names differ from BENCHMARK.json: "
                         f"missing {sorted(missing)}, undeclared {sorted(extra)}")
