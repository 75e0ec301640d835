"""DuckDB goldens for the surface workload, normalized by the repo's own
oracle check (scripts/check.py): columns sorted by name, integer widths
unified, floats rounded to 9 decimals, NaN spelled out."""
import hashlib
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
import check  # noqa: E402


def frame(rel):
    cols, types, rows = check.frame_rows(rel.columns, rel.types, rel.fetchall())
    return {"cols": cols, "types": types, "rows": [list(r) for r in rows]}


class Goldens:
    """Oracle results of one data directory, cached on disk per query SQL."""

    def __init__(self, cache, data, oracle):
        self.cache, self.data, self.oracle = Path(cache), Path(data), oracle
        self._con = None

    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in check.TABLES:
                p = self.data / f"{t}.parquet"
                if p.exists():
                    src = f"{p}/*.parquet" if p.is_dir() else str(p)
                    self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        return self._con

    def golden(self, name):
        sql = self.oracle[name]
        f = self.cache / f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:12]}.json"
        if f.is_file():
            return json.loads(f.read_text())
        g = frame(self.con().sql(sql))
        self.cache.mkdir(parents=True, exist_ok=True)
        f.write_text(json.dumps(g))
        return g

    def compare(self, name, out_dir, tamper=False):
        """None when the result in `out_dir` matches the oracle, else why."""
        if name not in self.oracle:
            return f"no oracle for {name}"
        want = self.golden(name)
        if tamper and want["rows"] and want["rows"][0]:
            want = dict(want, rows=[["'tampered'"] + want["rows"][0][1:]] + want["rows"][1:])
        try:
            got = frame(self.con().sql(f"SELECT * FROM '{out_dir}/*.parquet'"))
        except Exception as e:  # noqa: BLE001 - any read failure is a failed op
            return f"result unreadable: {e}"
        if got["cols"] != want["cols"]:
            return f"columns differ: {got['cols']} vs {want['cols']}"
        if got["types"] != want["types"]:
            return f"column types differ: {got['types']} vs {want['types']}"
        if got["rows"] == want["rows"] or sorted(got["rows"]) == sorted(want["rows"]):
            return None
        diff = next((g, w) for g, w in zip(got["rows"] + [None], want["rows"] + [None])
                    if g != w)
        return f"{len(got['rows'])} vs {len(want['rows'])} rows; first diff {diff}"
