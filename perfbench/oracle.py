"""Compares each batch entry's Spark output with its DuckDB oracle, using the
canonicalisation of scripts/check_oracle.py: columns sorted by name, the same
type classes, values exact, row order significant."""
import glob
import importlib.util
import os


def _check_oracle(root):
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(root, data_dir, out_dir, oracles, names):
    """Returns {name: (reason or "" if the output matches, rows)}."""
    co = _check_oracle(root)
    con = co.make_con(data_dir)
    con.execute("PRAGMA threads=4")
    result = {}
    for name in names:
        sql = oracles.get(name)
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if sql is None:
            result[name] = ("no oracle", 0)
            continue
        if not files:
            result[name] = ("no spark output", 0)
            continue
        try:
            want_rel = con.sql(sql)
            got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
            tw, tg = co.canon_types(want_rel), co.canon_types(got_rel)
            if tw != tg:
                result[name] = (f"types {tg} != {tw}", 0)
                continue
            want, got = co.canon(want_rel.fetchdf()), co.canon(got_rel.fetchdf())
            if got.shape != want.shape:
                reason = f"shape {got.shape} != {want.shape}"
            elif (got.fillna("\0NULL") != want.fillna("\0NULL")).any().any():
                reason = "values differ"
            else:
                reason = ""
            result[name] = (reason, len(got))
        except Exception as e:  # noqa: BLE001 - a crash is a failed check
            result[name] = (f"{type(e).__name__}: {e}", 0)
    return result
