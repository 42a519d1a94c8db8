"""Correctness checks on what the program produced.

enrich: every input row appears exactly once in the exported JSON, in
input (`row_index`) order, with the answer the stub gives for the
messages the row should have been sent: for a flat row its prompt
alone, for a conversation turn the whole history of its conversation so
far. The answer carries the message count and a hash of the history, so
an exact match proves turn numbering 1..k and history threading.

query_suite: a query fails in a pass if it throws, if its count differs
from the count the DuckDB oracle recorded for it, or if its count differs
from its cold-pass count.
"""
import csv
import glob
import json
import os

from gen import prompt
from stub import answer


def expected_answers(rows, group_col, model):
    """Row id → the answer a correct run returns for that row."""
    out, history = {}, {}
    for r in rows:
        key = r[group_col] if group_col else None
        messages = (history.get(key, []) if group_col else []) + [
            {"role": "user", "content": prompt(r["id"], r["text"])}]
        out[r["id"]] = answer(model, messages)
        if group_col:
            history[key] = messages + [{"role": "assistant", "content": out[r["id"]]}]
    return out


def read_json_lines(directory):
    records = []
    for path in sorted(glob.glob(os.path.join(directory, "part-*.json"))):
        with open(path) as f:
            records.extend(json.loads(line) for line in f if line.strip())
    return records


def check_records(rows, expected, records):
    """Returns (failed row count, problems). A row fails if it is
    missing, duplicated, out of order or carries a wrong answer."""
    problems = []
    seen = {}
    last = 0
    bad = set()
    for rec in records:
        rid = str(rec.get("id"))
        if rid not in expected:
            problems.append(f"unknown row id {rid}")
            continue
        seen[rid] = seen.get(rid, 0) + 1
        if seen[rid] > 1:
            bad.add(rid)
            problems.append(f"row {rid} exported {seen[rid]} times")
        if int(rid) < last:
            bad.add(rid)
            problems.append(f"row {rid} out of order")
        last = max(last, int(rid))
        if rec.get("response") != expected[rid]:
            bad.add(rid)
            problems.append(f"row {rid}: wrong response {rec.get('response')!r}")
    for r in rows:
        if r["id"] not in seen:
            bad.add(r["id"])
            problems.append(f"row {r['id']} missing")
    return len(bad), problems


def check_enrich_export(rows, group_col, model, export_dir, flat):
    """Checks one cycle's export directory; returns (failed rows, problems)."""
    if flat:
        json_dir = os.path.join(export_dir, "export", "consolidated", "json")
    else:
        json_dir = os.path.join(export_dir, "json")
    failed, problems = check_records(rows, expected_answers(rows, group_col, model),
                                     read_json_lines(json_dir))
    if flat:
        files = len(glob.glob(os.path.join(export_dir, "export", "individual", "*.txt")))
        csv_lines = 0
        for path in glob.glob(os.path.join(export_dir, "export", "consolidated", "csv",
                                           "part-*.csv")):
            with open(path, newline="") as f:
                csv_lines += sum(1 for _ in csv.reader(f)) - 1
        for what, n in (("per-row files", files), ("CSV rows", csv_lines)):
            if n != len(rows):
                failed = max(failed, abs(len(rows) - n))
                problems.append(f"{what}: {n} for {len(rows)} rows")
        if not os.path.exists(os.path.join(export_dir, "results.zip")):
            failed = len(rows)
            problems.append("results.zip missing")
    return failed, problems


def check_query_passes(passes, oracle_counts):
    """Returns (attempted, failed, failed names) over every pass."""
    cold = {q["name"]: q.get("rows") for q in passes[0]["queries"]}
    attempted, failed, names = 0, 0, set()
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            name = q["name"]
            ok = ("error" not in q
                  and (name not in oracle_counts or q["rows"] == oracle_counts[name])
                  and q["rows"] == cold[name])
            if not ok:
                failed += 1
                names.add(name)
    return attempted, failed, sorted(names)
