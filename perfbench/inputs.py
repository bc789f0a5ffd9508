"""Seeded benchmark inputs.

The base tables in `perfbench/data` are copies of the repository's
deterministic test tables: the star-schema tables at scale factor 0.01, and
the first 2,000 documents (doc_id < 2000) of `documents` at scale factor 0.1.

Seed 0 is the base tables unchanged. A seed s > 0 applies a seeded
bijection to each primary key and the same bijection to every foreign key
that references it (c_custkey -> o_custkey, o_orderkey -> l_orderkey, and
doc_id), then writes every table in a seeded row order, split into three files at
seeded points. Sizes, key sets and value distributions stay the
same; which rows land on each key-derived branch (custkey % 7 targets,
custkey % 23 null geo, doc_id % 97 eval holdout, md5 mixes) changes.
"""
import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
TABLES = ["region", "nation", "supplier", "part", "customer", "orders",
          "lineitem", "documents"]
N_FILES = 3
# primary key -> the columns that carry it
KEYS = {
    ("customer", "c_custkey"): [("orders", "o_custkey")],
    ("orders", "o_orderkey"): [("lineitem", "l_orderkey")],
    ("documents", "doc_id"): [],
}


def base_digest():
    """Identifies the base tables and this generator, keying the caches."""
    h = hashlib.sha256(Path(__file__).read_bytes())
    for t in TABLES:
        h.update((DATA / f"{t}.parquet").read_bytes())
    return h.hexdigest()[:16]


def table_path(inputs_dir, name):
    """The path DuckDB reads for a table: a file, or a directory's files."""
    p = Path(inputs_dir, f"{name}.parquet")
    return str(p / "*.parquet") if p.is_dir() else str(p)


def _remap(col, old, new):
    """Map each value of `col` through old[i] -> new[i] (old sorted)."""
    vals = col.to_numpy()
    idx = np.searchsorted(old, vals)
    hit = (idx < len(old)) & (old[np.minimum(idx, len(old) - 1)] == vals)
    out = np.where(hit, new[np.minimum(idx, len(old) - 1)], vals)
    return pa.array(out, type=col.type)


def _orphans(child, ccol, parent, pcol):
    return len(child) - pc.sum(pc.is_in(child[ccol], parent[pcol])).as_py()


def generate(seed, out_dir):
    """Write the inputs for `seed` into `out_dir` and self-check them."""
    base = {t: pq.read_table(DATA / f"{t}.parquet") for t in TABLES}
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True)
    if seed == 0:
        for t in TABLES:
            shutil.copyfile(DATA / f"{t}.parquet", out_dir / f"{t}.parquet")
        return _check(base, out_dir)
    rng = np.random.default_rng(seed)
    tables = dict(base)
    for (pt, pk), refs in KEYS.items():
        old = np.sort(base[pt][pk].to_numpy())
        new = rng.permutation(old)
        for t, c in [(pt, pk)] + refs:
            i = tables[t].schema.get_field_index(c)
            tables[t] = tables[t].set_column(i, c, _remap(tables[t][c], old, new))
    for t in TABLES:
        tab = tables[t].take(pa.array(rng.permutation(len(tables[t]))))
        # a fixed file count keeps the scan parallelism the same across
        # seeds; only where the files split moves
        cuts = sorted({int(len(tab) * (k + rng.uniform(-0.1, 0.1)) / N_FILES)
                       for k in range(1, N_FILES)} - {0, len(tab)})
        bounds = [0, *cuts, len(tab)]
        d = out_dir / f"{t}.parquet"
        d.mkdir()
        for k in range(len(bounds) - 1):
            pq.write_table(tab.slice(bounds[k], bounds[k + 1] - bounds[k]),
                           d / f"part-{k:05d}.parquet")
    return _check(base, out_dir)


def _check(base, out_dir):
    """Row counts, key sets and foreign-key integrity match the base."""
    got = {t: pq.read_table(Path(out_dir, f"{t}.parquet")) for t in TABLES}
    for t in TABLES:
        if len(got[t]) != len(base[t]):
            raise AssertionError(f"{t}: {len(got[t])} rows, base has {len(base[t])}")
    for (pt, pk), refs in KEYS.items():
        if not np.array_equal(np.sort(got[pt][pk].to_numpy()), np.sort(base[pt][pk].to_numpy())):
            raise AssertionError(f"{pt}.{pk}: key set changed")
        for t, c in refs:
            if _orphans(got[t], c, got[pt], pk) != _orphans(base[t], c, base[pt], pk):
                raise AssertionError(f"{t}.{c}: foreign keys into {pt}.{pk} broken")
    stats = {}
    for t in TABLES:
        p = Path(out_dir, f"{t}.parquet")
        files = list(p.glob("*.parquet")) if p.is_dir() else [p]
        stats[t] = {"rows": len(got[t]), "files": len(files),
                    "mb": round(sum(f.stat().st_size for f in files) / 1e6, 4)}
    Path(out_dir, "stats.json").write_text(json.dumps(stats))
    return stats


def ensure(seed, cache_root):
    """The cached inputs directory for `seed`, generating it on first use.

    Returns (directory, per-table stats, seconds spent generating).
    """
    final = Path(cache_root, base_digest(), f"seed-{seed}")
    if (final / "stats.json").exists():
        return final, json.loads((final / "stats.json").read_text()), 0.0
    t0 = time.monotonic()
    tmp = final.with_name(f"{final.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    stats = generate(seed, tmp)
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final, stats, time.monotonic() - t0
