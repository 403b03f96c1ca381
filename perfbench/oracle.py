"""Output check for the gate workloads: each gate's full output against its
DuckDB oracle SQL over the same input tables, in the canonical form of
`tools/check.py` (columns by name, rows sorted, floats to 6 significant
digits). Gates without an oracle pass when they return rows."""
import glob
import os
import sys

import duckdb
import pandas as pd

# The repository's own checker defines the canonical form.
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import frame_rows  # noqa: E402


def check(data_dir, outputs):
    """outputs: [gate, parquet dir, rows, oracle SQL or None]. Returns one
    message per gate whose output is wrong."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    bad = []
    for gate, out_dir, rows, sql in outputs:
        got = pd.read_parquet(out_dir)
        if len(got) != rows:
            bad.append(f"{gate}: wrote {len(got)} rows, collected {rows}")
        elif sql is None:
            if rows == 0:
                bad.append(f"{gate}: no oracle and no rows")
        else:
            try:
                want = frame_rows(con.execute(sql).fetchdf())
                have = frame_rows(got)
            except Exception as e:  # an oracle or sort error fails the gate
                bad.append(f"{gate}: {type(e).__name__}: {e}")
                continue
            if have[0] != want[0]:
                bad.append(f"{gate}: columns {have[0]} != oracle {want[0]}")
            elif have[1] != want[1]:
                bad.append(f"{gate}: {len(have[1])} rows differ from the "
                           f"oracle's {len(want[1])}")
    con.close()
    return bad
