"""Seeded input generator for the benchmark.

Writes only input files plus a ground-truth sidecar (``truth.json``);
the engine never sees the sidecar. The same seed and shape give
byte-identical files: every random draw comes from one
``random.Random(seed)`` and the xlsx zips are rewritten with fixed
entry timestamps.

PM drop layout (one small file per site and 15-minute period)::

    A20240331.2215_S003.csv
    #VENDOR=HUAWEI
    JUNK
    cell,calls_raw,drops_raw,setups_raw
    c00001,1234,12,1301

Keys are unique per (table, period): one file per (site, period), and
cell ids are unique inside a file.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import zipfile
from datetime import datetime, timedelta

START = datetime(2024, 3, 31, 22, 0)  # ladder windows cross day, week, month
PERIOD = timedelta(minutes=15)
LEVELS = ["15M", "HH", "HR", "DY", "WK", "MO", "YR"]
VENDORS = ["HUAWEI", "NOKIA", "ERICSSON", "ZTE"]
REGIONS = ["NORTH", "SOUTH", "EAST", "WEST"]
CELL_KEYS = ["SITE", "CELL", "VENDOR", "REGION", "LABEL"]
CELL_COUNTERS = ["CALLS", "DROPS", "SETUPS"]
_FIXED_ZIP_TIME = (2024, 1, 1, 0, 0, 0)


# ---------------------------------------------------------------------------
# ladder truth (independent of the engine's own truncation helpers)
# ---------------------------------------------------------------------------

def truncate(dt: datetime, level: str) -> datetime:
    if level == "HH":
        return dt.replace(minute=dt.minute - dt.minute % 30)
    if level == "HR":
        return dt.replace(minute=0)
    day = dt.replace(hour=0, minute=0)
    if level == "DY":
        return day
    if level == "WK":
        return day - timedelta(days=day.weekday())
    if level == "MO":
        return day.replace(day=1)
    if level == "YR":
        return day.replace(month=1, day=1)
    raise ValueError(level)


def _stamp(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%d %H:%M:%S")


def table_truth(
    rows: list[tuple], key_fields: list[str], counters: list[str], base: str
) -> dict:
    """rows: (datetime, *keys, *counter values) -> per-period and
    per-ladder-window row counts, key tuples and counter sums, for
    every ladder level above the ``base`` granularity."""
    n_keys = len(key_fields)

    def agg(groups: dict) -> dict:
        out = {}
        for stamp, members in sorted(groups.items()):
            sums = [0.0] * len(counters)
            for vals in members.values():
                for i, v in enumerate(vals):
                    sums[i] += v
            out[stamp] = {"rows": len(members), "sums": dict(zip(counters, sums)),
                          "keys": sorted(list(k) for k in members)}
        return out

    def grouped(level: str | None) -> dict:
        g: dict[str, dict] = {}
        for r in rows:
            dt = r[0] if level is None else truncate(r[0], level)
            keys = r[1 : 1 + n_keys]
            vals = r[1 + n_keys :]
            bucket = g.setdefault(_stamp(dt), {})
            prev = bucket.get(keys)
            bucket[keys] = vals if prev is None else [a + b for a, b in zip(prev, vals)]
        return g

    return {
        "base_granularity": base,
        "key_fields": key_fields,
        "counters": counters,
        "base": agg(grouped(None)),
        "ladder": {
            lvl: agg(grouped(lvl)) for lvl in LEVELS[LEVELS.index(base) + 1 :]
        },
    }


# ---------------------------------------------------------------------------
# Excel configs (the reference's Chill sheet + HLD workbook)
# ---------------------------------------------------------------------------

def _normalize_zip(path: str) -> None:
    """Rewrite a zip with fixed entry timestamps so equal content gives
    equal bytes (zipfile stamps entries with the wall clock)."""
    with zipfile.ZipFile(path) as z:
        entries = [(i.filename, z.read(i)) for i in z.infolist()]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries:
            info = zipfile.ZipInfo(name, _FIXED_ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data)


def write_configs(out: str, input_dir: str, input_mask: str) -> tuple[str, str]:
    """Chill sheet + HLD workbook for the PM job. Every DSL
    tier is used: native templates (filename, tag, column), a lookup
    through the ``sites`` view, and one template outside the native
    subset (``str.title``), which falls back to a pandas UDF."""
    from chill_spark.config.xlsx import write_xlsx

    chill = [
        ["input_rd", input_dir],
        ["input_rd_mask", input_mask],
        ["delimiter", ","],
        ["valid_lines", "[1:]"],
        ["ignore_lines", "JUNK"],
        ["view"],
        ["sites", "SELECT site_id, region FROM sites"],
        ["field"],
        ["OM_GROUP", "filename", None, None, None,
         "'OM_CELL' if arg1[0:1] == 'A' else 'OM_NODE'"],
        ["DATETIME", "column", None, "_file", None,
         "datetime.strptime(arg1[1:14], '%Y%m%d.%H%M')"
         ".strftime('%Y-%m-%d %H:%M:%S')", None, None, "ALL"],
        ["SITE", "filename", None, None, None, "arg1[15:19]",
         None, None, "CELL_STATS"],
        ["VENDOR", "tag", "#VENDOR=", None, None, "tag.split('=')[1]",
         None, None, "CELL_STATS"],
        ["REGION", "lookup", None, "SITE", None,
         "view[view['site_id'] == arg1]['region'].values[0]",
         "sites", "UNK", "CELL_STATS"],
        ["LABEL", "column", None, "cell", None, "arg1.title()",
         None, None, "CELL_STATS"],
    ]
    deco = [None, "-", "-", "-", "-", "-", "-"]
    tables = [
        [None, "Table Name", "Counter Group in RD", "Base Granularity"],
        deco[:4], deco[:4],
        [None, "CELL_STATS", "OM_CELL", "15MIN"],
    ]
    columns = [
        [None, "Table Name", "Counter/KPI DB Name",
         "Raw Data Counter Name/OID", "TYPE", "Data Type", "Formula"],
        deco, deco,
        [None, "CELL_STATS", "SITE", None, "KEY", "string"],
        [None, "CELL_STATS", "CELL", "cell", "KEY", "string"],
        [None, "CELL_STATS", "VENDOR", None, "KEY", "string"],
        [None, "CELL_STATS", "REGION", None, "KEY", "string"],
        [None, "CELL_STATS", "LABEL", None, "KEY", "string"],
        [None, "CELL_STATS", "CALLS", "calls_raw", "COUNTER", "double"],
        [None, "CELL_STATS", "DROPS", "drops_raw", "COUNTER", "double"],
        [None, "CELL_STATS", "SETUPS", "setups_raw", "COUNTER", "double"],
        [None, "CELL_STATS", "DROP_RATE", None, "KPI", "double", "DROPS/CALLS"],
    ]
    job_path = os.path.join(out, "chill.xlsx")
    hld_path = os.path.join(out, "hld.xlsx")
    write_xlsx(job_path, {"Chill": chill})
    write_xlsx(hld_path, {"Tables": tables, "Key_Counters_Kpis": columns})
    _normalize_zip(job_path)
    _normalize_zip(hld_path)
    return job_path, hld_path


# ---------------------------------------------------------------------------
# PM counter drops
# ---------------------------------------------------------------------------

def _write(path: str, text: str) -> None:
    with open(path, "w", newline="\n") as f:
        f.write(text)


def gen_pm(
    root: str,
    seed: int,
    *,
    periods: int,
    sites: int,
    cells: int,
    bursts: int,
    burst_align: int,
) -> dict:
    """Write one PM drop under ``root`` and return its truth.

    The files are split over ``bursts`` directories
    ``root/staged/burst_NNN`` of seeded sizes, to be landed one at a
    time under ``root/in`` (job mask ``*/*.csv``). Burst boundaries
    fall on multiples of ``burst_align`` where one is in range, so a
    stream with a fixed ``maxFilesPerTrigger`` splits every seed's drop
    into the same number of micro-batches."""
    rng = random.Random(seed)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    site_ids = [f"S{i:03d}" for i in range(1, sites + 1)]
    site_vendor = {s: rng.choice(VENDORS) for s in site_ids}
    # ~1 in 5 sites is absent from the lookup dimension -> default UNK
    site_region = {s: rng.choice(REGIONS) for s in site_ids if rng.random() < 0.8}

    files: list[tuple[str, str]] = []  # (name, body), period order
    cell_rows: list[tuple] = []
    for p in range(periods):
        dt = START + p * PERIOD
        tag = dt.strftime("%Y%m%d.%H%M")
        for s in site_ids:
            lines = [f"#VENDOR={site_vendor[s]}", "JUNK",
                     "cell,calls_raw,drops_raw,setups_raw"]
            for c in range(1, cells + 1):
                cid = f"c{c:05d}"
                calls = rng.randint(100, 5000)
                drops = rng.randint(0, calls // 20)
                setups = calls + rng.randint(0, 300)
                lines.append(f"{cid},{calls},{drops},{setups}")
                keys = (s, cid, site_vendor[s], site_region.get(s, "UNK"), cid.title())
                cell_rows.append((dt, *keys, float(calls), float(drops), float(setups)))
            files.append((f"A{tag}_{s}.csv", "\n".join(lines) + "\n"))

    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    # seeded sizes within +-1/3 of an even split, so every seed gives
    # bursts of comparable size (and micro-batch count)
    even = len(files) / bursts
    cuts = []
    for i in range(1, bursts):
        lo, hi = math.ceil(even * (i - 1 / 3)), math.floor(even * (i + 1 / 3))
        aligned = [c for c in range(lo, hi + 1) if c % burst_align == 0]
        cuts.append(rng.choice(aligned or [round(even * i)]))
    bounds = [0, *cuts, len(files)]
    burst_dirs = [f"burst_{i:03d}" for i in range(bursts)]
    for i, b in enumerate(burst_dirs):
        d = os.path.join(root, "staged", b)
        os.makedirs(d)
        for name, body in files[bounds[i] : bounds[i + 1]]:
            _write(os.path.join(d, name), body)
    _write(
        os.path.join(root, "sites.csv"),
        "site_id,region\n"
        + "".join(f"{s},{r}\n" for s, r in sorted(site_region.items())),
    )
    job_path, hld_path = write_configs(root, in_dir, "*/*.csv")
    truth = {
        "files": len(files),
        "bytes": sum(len(b) for _, b in files),
        "rows": len(cell_rows),
        "job": job_path,
        "hld": hld_path,
        "in_dir": in_dir,
        "bursts": burst_dirs,
        "sites": os.path.join(root, "sites.csv"),
        "tables": {
            "CELL_STATS": table_truth(cell_rows, CELL_KEYS, CELL_COUNTERS, "15M"),
        },
    }
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


# ---------------------------------------------------------------------------
# dedup corpus
# ---------------------------------------------------------------------------

def gen_corpus(
    root: str, seed: int, *, docs: int, clusters: int, vocab: int = 4000,
) -> dict:
    """Documents with planted exact duplicates (same text up to case
    and whitespace) and near-duplicate clusters (one-token edits of a
    base document: Jaccard ~0.95 over 5-shingles inside a cluster,
    ~0 between documents). Ids are shuffled so the survivor is not
    always the base document."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = sorted({
        "".join(rng.choice(letters) for _ in range(rng.randint(4, 9)))
        for _ in range(vocab)
    })

    def doc() -> list[str]:
        return [rng.choice(words) for _ in range(rng.randint(120, 200))]

    texts: list[str] = []
    cluster_of: list[int] = []  # planted cluster per text, -1 singleton
    exact_of: list[int] = []  # index of the text it exactly copies
    for c in range(clusters):
        base = doc()
        members = [base]
        for _ in range(rng.randint(1, 4)):
            v = list(base)
            while v in members:  # an edit must change the text
                v = list(base)
                v[rng.randrange(len(v))] = rng.choice(words)
            members.append(v)
        for m in members:
            exact_of.append(len(texts))
            texts.append(" ".join(m))
            cluster_of.append(c)
        for _ in range(rng.randint(0, 2)):
            src = len(texts) - 1 - rng.randrange(len(members))
            toks = texts[src].split(" ")
            # same normalized text: other case, doubled whitespace
            copy = toks[0].upper() + "  " + " ".join(toks[1:]) + " "
            exact_of.append(exact_of[src])
            texts.append(copy)
            cluster_of.append(c)
    while len(texts) < docs:
        exact_of.append(len(texts))
        texts.append(" ".join(doc()))
        cluster_of.append(-1)
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)

    exact_groups: dict[int, list[int]] = {}
    final_groups: dict[tuple, list[int]] = {}
    for i, (e, c) in enumerate(zip(exact_of, cluster_of)):
        exact_groups.setdefault(e, []).append(ids[i])
        final_groups.setdefault((c,) if c >= 0 else ("s", i), []).append(ids[i])
    table = pa.table(
        {"id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )
    path = os.path.join(root, "corpus.parquet")
    pq.write_table(table, path)
    truth = {
        "docs": len(texts),
        "bytes": sum(len(t) for t in texts),
        "path": path,
        "exact_survivors": sorted(min(g) for g in exact_groups.values()),
        "survivors": sorted(min(g) for g in final_groups.values()),
        "planted_clusters": clusters,
    }
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
