"""Ground-truth checks run on every benchmark job.

Outputs are read back with pyarrow, not Spark, so a check never shares
a code path with the engine it checks. Each function returns a list of
human-readable errors; an empty list means the job was correct.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow.parquet as pq

# counters are integers, so sums are exact in float64; anything the
# reconcile's round(x, 3) rule would tell apart is an error
_TOL = 5e-4


def _stamp(v) -> str:
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def _close(a: float, b: float) -> bool:
    return abs(a - b) < _TOL


def table_summary(path: str, key_fields: list[str], counters: list[str]) -> dict:
    """{period: {"rows", "keys", "sums"}} of a written fact table; a
    table whose columns are not DATETIME + keys + counters (+ partition
    columns) raises ``ValueError``."""
    t = pq.read_table(path)
    names = [n for n in t.column_names if n not in ("DT_PART", "BATCH_PART")]
    want = ["DATETIME", *key_fields, *counters]
    if sorted(names) != sorted(want):
        raise ValueError(f"columns {sorted(names)} != {sorted(want)}")
    cols = {n: t.column(n).to_pylist() for n in names}
    out: dict[str, dict] = {}
    for i, dt in enumerate(cols["DATETIME"]):
        s = out.setdefault(
            _stamp(dt), {"rows": 0, "keys": set(), "sums": dict.fromkeys(counters, 0.0)}
        )
        s["rows"] += 1
        s["keys"].add(tuple(cols[k][i] for k in key_fields))
        for c in counters:
            s["sums"][c] += cols[c][i] or 0.0
    return out


def compare_summary(label: str, got: dict, want: dict) -> list[str]:
    errs = []
    if sorted(got) != sorted(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return [f"{label}: periods differ (missing {missing}, extra {extra})"]
    for period, w in want.items():
        g = got[period]
        if g["rows"] != w["rows"] or len(g["keys"]) != w["rows"]:
            errs.append(
                f"{label} {period}: {g['rows']} rows / {len(g['keys'])} keys, "
                f"expected {w['rows']}"
            )
        want_keys = {tuple(k) for k in w["keys"]}
        if g["keys"] != want_keys:
            missing = sorted(want_keys - g["keys"])
            extra = sorted(g["keys"] - want_keys)
            errs.append(
                f"{label} {period}: keys differ ({len(missing)} missing, e.g. "
                f"{missing[:1]}; {len(extra)} unexpected, e.g. {extra[:1]})"
            )
        for c, v in w["sums"].items():
            if not _close(g["sums"].get(c, 0.0), v):
                errs.append(f"{label} {period}: sum({c}) {g['sums'].get(c)} != {v}")
    return errs


def _check_table(label: str, path: str, t: dict, want: dict) -> list[str]:
    try:
        got = table_summary(path, t["key_fields"], t["counters"])
    except ValueError as e:
        return [f"{label}: {e}"]
    return compare_summary(label, got, want)


def check_facts(
    out: str, truth: dict, tables: list[str], levels: list[str] | None = None,
    ladder_root: str | None = None,
) -> list[str]:
    """Fact columns, rows, key sets and counter sums per (table, period) under
    ``out``, and the windows of each ladder level under ``ladder_root``
    (default ``out``; default levels: all above each table's base)
    against the generator's totals."""
    errs = []
    if sorted(tables) != sorted(truth["tables"]):
        errs.append(f"tables {sorted(tables)} != {sorted(truth['tables'])}")
    for table, t in truth["tables"].items():
        name = f"{table}_{t['base_granularity']}"
        base = os.path.join(out, name)
        if not os.path.isdir(base):
            errs.append(f"{table}: no fact table at {base}")
            continue
        errs += _check_table(name, base, t, t["base"])
        for level in t["ladder"] if levels is None else levels:
            path = os.path.join(ladder_root or out, f"{table}_{level}")
            if not os.path.isdir(path):
                errs.append(f"{table}: no ladder level {level}")
                continue
            errs += _check_table(f"{table}_{level}", path, t, t["ladder"][level])
    return errs


def check_clean_verdict(result: dict) -> list[str]:
    errs = []
    if result["derive_errors"]:
        errs.append(f"derive errors: {result['derive_errors'][:3]}")
    for rep in result["reports"]:
        if not rep.clean:
            errs.append(
                f"{rep.table}: not clean (rd {rep.rd_num_records}, db "
                f"{rep.db_num_records}, {len(rep.diffs)} diffs, "
                f"{len(rep.missing_oracle_records)}/{len(rep.missing_raw_data_records)} "
                f"missing, columns {rep.missing_columns})"
            )
    if not result["report"].passed:
        errs.append("JUnit verdict failed on a clean drop")
    return errs


def check_dedup(out: str, truth: dict) -> list[str]:
    errs = []
    for name, want in (("exact", truth["exact_survivors"]), ("kept", truth["survivors"])):
        path = os.path.join(out, name)
        if not os.path.isdir(path):
            errs.append(f"no {name} output")
            continue
        got = sorted(pq.read_table(path, columns=["id"]).column("id").to_pylist())
        if got != want:
            errs.append(
                f"{name} survivors: {len(got)} rows, expected {len(want)} "
                f"({len(set(got) - set(want))} unexpected, "
                f"{len(set(want) - set(got))} missing)"
            )
    return errs
