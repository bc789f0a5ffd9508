"""DuckDB oracle gate.

Each op's output and its oracle result are reduced to one digest with the
canonicalization of `tools/check_oracle.py` (columns sorted by name, rows
rendered by its `canon` and sorted), so a digest match is exactly that
tool's PASS. Oracle digests depend only on the inputs and the SQL, so they
are cached per input directory.
"""
import hashlib
import importlib.util
import json
from pathlib import Path

import duckdb

import inputs


def _load_check_oracle(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", Path(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, root, inputs_dir, cache_dir):
        self.check = _load_check_oracle(root)
        self.inputs_dir = inputs_dir
        self.cache_dir = Path(cache_dir)
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute("SET threads = 4")
        for t in inputs.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{inputs.table_path(inputs_dir, t)}')")

    def _digest(self, cursor):
        names = [d[0] for d in cursor.description]
        cols, rows = self.check.frame_key(names, cursor.fetchall())
        h = hashlib.sha256("\x1f".join(cols).encode())
        for r in rows:
            h.update(b"\n")
            h.update(r.encode())
        return h.hexdigest(), len(rows)

    def expected(self, op, sql):
        """(digest, rows) of the oracle result, from the cache when present."""
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        f = self.cache_dir / f"{op}-{key}.json"
        if f.exists():
            d = json.loads(f.read_text())
            return d["digest"], d["rows"]
        rel = self.con.sql(sql)
        hug = [c for c, t in zip(rel.columns, map(str, rel.types)) if "HUGEINT" in t]
        if hug:
            raise ValueError(f"oracle emits HUGEINT column(s) {hug}")
        digest, rows = self._digest(self.con.execute(sql))
        f.write_text(json.dumps({"digest": digest, "rows": rows}))
        return digest, rows

    def actual(self, out_dir):
        """(digest, rows) of a written op output."""
        return self._digest(self.con.execute(
            f"SELECT * FROM read_parquet('{Path(out_dir, '*.parquet')}')"))
