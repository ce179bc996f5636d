"""Independent correctness oracle: DuckDB over the target's parquet files.

Never uses the engine's own readers or ``recon`` operators. It finds the
target's live files from the on-disk layout alone:

- ``overwrite`` protocol: every data file under ``<root>/_bucket=<b>/``;
- ``manifest`` protocol: the files of the bucket dirs that the highest
  ``<root>/_manifests/v<n>.json`` lists.

and compares the rows, as a multiset, with the state the generator
expects.
"""

from __future__ import annotations

import glob
import json
import os
import re

import duckdb
import pyarrow as pa

COLS = "order_id, customer_id, amount, ts, batch_id"


def live_files(root: str, protocol: str) -> list[str]:
    """Data files that make up the target's current state."""
    if protocol == "overwrite":
        return sorted(glob.glob(os.path.join(root, "_bucket=*", "*.parquet")))
    mdir = os.path.join(root, "_manifests")
    versions = [
        int(m.group(1))
        for n in os.listdir(mdir)
        if (m := re.fullmatch(r"v(\d+)\.json", n))
    ]
    with open(os.path.join(mdir, f"v{max(versions)}.json")) as f:
        doc = json.load(f)
    files = []
    for b, label in doc["buckets"].items():
        d = os.path.join(root, "stage", f"v={label}", f"_bucket={b}")
        files += glob.glob(os.path.join(d, "*.parquet"))
    return sorted(files)


def compare(expected: pa.Table, files: list[str]) -> str | None:
    """None when the files hold exactly the ``expected`` rows (as a
    multiset); otherwise a one-line description of the first difference."""
    con = duckdb.connect()
    try:
        con.register("exp", expected)
        if files:
            paths = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
            con.execute(
                f"CREATE VIEW tgt AS SELECT {COLS} FROM read_parquet([{paths}], "
                "hive_partitioning = false, union_by_name = true)"
            )
        else:
            con.execute(f"CREATE VIEW tgt AS SELECT {COLS} FROM exp WHERE false")
        missing = con.execute(
            f"SELECT count(*), min(order_id) FROM "
            f"(SELECT {COLS} FROM exp EXCEPT ALL SELECT {COLS} FROM tgt)"
        ).fetchone()
        extra = con.execute(
            f"SELECT count(*), min(order_id) FROM "
            f"(SELECT {COLS} FROM tgt EXCEPT ALL SELECT {COLS} FROM exp)"
        ).fetchone()
    finally:
        con.close()
    if missing[0] or extra[0]:
        return (
            f"{missing[0]} expected rows absent (first key {missing[1]}), "
            f"{extra[0]} unexpected rows (first key {extra[1]})"
        )
    return None


def check_target(root: str, protocol: str, expected: pa.Table) -> str | None:
    return compare(expected, live_files(root, protocol))


def data_bytes(root: str) -> int:
    """Bytes of every file under ``root``."""
    total = 0
    for d, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total
