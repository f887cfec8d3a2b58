"""Output check: each query's result against its DuckDB oracle SQL.

The rules are those of the repo's correctness gate, tools/check.py, whose
canonical form (columns sorted by name, rows sorted by every column) this
module imports: equal column names, equal row counts, equal float/non-float
kind per column, then exactly equal values.

Unlike tools/check.py, each DuckDB reference result is cached on disk by
(oracle SQL, testdata files). The data is fixed, so a reference is computed
once per checkout; computing them every run took 42 s for the four queries of
the `executor` mix at sf0.1 on a 4-core host, more than the timed passes.
"""
import glob
import hashlib
import importlib.util
import os

import duckdb
import pandas as pd


def _load_check(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def compare(canon, mine: pd.DataFrame, ref: pd.DataFrame):
    """None when the two results match, else the reason they do not."""
    a, b = canon(mine), canon(ref)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    kind = [c for c in a.columns
            if pd.api.types.is_float_dtype(a[c]) != pd.api.types.is_float_dtype(b[c])]
    if kind:
        return "float/non-float dtype differs: " + ", ".join(
            f"{c}: {a[c].dtype} vs {b[c].dtype}" for c in kind)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + " | ".join(str(e).splitlines()[:4])
    return None


class Oracle:
    """DuckDB over the testdata tables, with each reference result cached in
    cache_dir by (oracle SQL, testdata files)."""

    def __init__(self, root, data_dir, cache_dir, threads):
        self.check = _load_check(root)
        self.data_dir, self.cache_dir, self.threads = data_dir, cache_dir, threads
        h = hashlib.sha256()
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            st = os.stat(path)
            h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}".encode())
        self.fingerprint = h.hexdigest()
        self.con = None

    def _connect(self):
        con = duckdb.connect()
        con.execute(f"SET threads TO {self.threads}")
        con.execute(f"SET temp_directory = '{os.path.join(self.cache_dir, 'duckdb.tmp')}'")
        for t in self.check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data_dir, t)}.parquet')")
        return con

    def reference(self, name, sql):
        key = hashlib.sha256(f"{self.fingerprint}\n{sql}".encode()).hexdigest()[:20]
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self.con is None:
            self.con = self._connect()
        ref = self.con.execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        ref.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return ref

    def close(self):
        if self.con is not None:
            self.con.close()

    def check_all(self, out_dir: str, names, oracle_sql: dict) -> dict:
        """Checks the parquet result at out_dir/<name> of each name.

        Returns {name: None when it matches, else the reason}.
        """
        verdicts = {}
        for name in names:
            sql = oracle_sql.get(name)
            if sql is None:
                verdicts[name] = "no oracle SQL"
                continue
            try:
                mine = pd.read_parquet(os.path.join(out_dir, name))
            except Exception as e:  # noqa: BLE001 - any unreadable result fails the check
                verdicts[name] = f"no result ({e})"
                continue
            try:
                ref = self.reference(name, sql)
            except Exception as e:  # noqa: BLE001
                verdicts[name] = f"oracle error: {e}"
                continue
            verdicts[name] = compare(self.check.canon, mine, ref)
        return verdicts
