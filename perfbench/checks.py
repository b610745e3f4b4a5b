"""Output checks, run outside the timed region.

Medallion: the warehouse the pipeline left behind is read straight from
its parquet files with DuckDB and held to invariants that do not depend
on how the pipeline gets there. Queries: each result is compared with
the DuckDB oracle SQL the program declares for it, and with the record
taken on the warm-up pass.
"""
import glob
import os

import duckdb
import pandas as pd

# (table, surrogate key, natural key) per dimension, as DimBuilder and
# DateDimBuilder define them
DIMS = (
    ("date_dim", "date_id_pk", ("order_dt",)),
    ("region_dim", "region_id_pk", ("country", "region")),
    ("product_dim", "product_id_pk", ("mobile_key", "brand", "model", "color", "memory")),
    ("promo_code_dim", "promo_code_id_pk", ("promotion_code", "country", "region")),
    ("customer_dim", "customer_id_pk",
     ("customer_name", "contact_no", "shipping_address", "country", "region")),
    ("payment_dim", "payment_id_pk",
     ("payment_method", "payment_provider", "country", "region")),
)
FACT_FKS = {"date_dim": "date_id_fk", "region_dim": "region_id_fk",
            "product_dim": "product_id_fk", "promo_code_dim": "promo_code_id_fk",
            "customer_dim": "customer_id_fk", "payment_dim": "payment_id_fk"}


def _table(con, wh, db, name):
    path = os.path.join(wh, f"{db}.db", name)
    con.sql(f"CREATE OR REPLACE VIEW {db}_{name} AS SELECT * FROM "
            f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)")
    return f"{db}_{name}"


def source_counts(report, expected):
    """Problems with the loaded/skipped counts the pipeline reported for
    one drop, against the generator's record for it."""
    problems = []
    for cc, want in expected["source"].items():
        got = report.get("source", {}).get(cc)
        if got != want:
            problems.append(f"source {cc}: loaded/skipped {got} != {want}")
    return problems


def medallion(wh, report, expected):
    """Problems found after one drop, as a list of strings (empty = pass).

    `report` is the pipeline's own JSON report for the drop; `expected`
    is the generator's record for it."""
    problems = source_counts(report, expected)
    con = duckdb.connect()
    try:
        for cc in ("in", "us", "fr"):
            t = _table(con, wh, "source", f"{cc}_sales_order")
            n, lo, hi, nd = con.sql(f"SELECT count(*), min(sales_order_key), "
                                    f"max(sales_order_key), count(DISTINCT sales_order_key) "
                                    f"FROM {t}").fetchone()
            if not (lo == 1 and hi == n == nd):
                problems.append(f"source {cc}: keys not dense 1..{n}: min {lo} max {hi} "
                                f"distinct {nd}")
        fact = _table(con, wh, "consumption", "sales_fact")
        for dim, pk, nat in DIMS:
            d = _table(con, wh, "consumption", dim)
            cols = ", ".join(nat)
            rows, keys = con.sql(f"SELECT count(*), (SELECT count(*) FROM "
                                 f"(SELECT DISTINCT {cols} FROM {d})) FROM {d}").fetchone()
            if rows != keys:
                problems.append(f"{dim}: {rows} rows for {keys} natural keys")
            fk = FACT_FKS[dim]
            orphans = con.sql(f"SELECT count(*) FROM {fact} f ANTI JOIN {d} x "
                              f"ON f.{fk} = x.{pk}").fetchone()[0]
            if orphans:
                problems.append(f"sales_fact: {orphans} rows with unresolved {fk}")
        got = {f"{o}|{d}" for o, d in con.sql(
            f"SELECT DISTINCT f.order_code, strftime(d.order_dt, '%Y-%m-%d') FROM {fact} f "
            f"JOIN consumption_date_dim d ON f.date_id_fk = d.date_id_pk").fetchall()}
        want = set(expected["paid_delivered"])
        if got != want:
            problems.append(f"sales_fact (order, date) set: {len(got - want)} unexpected, "
                            f"{len(want - got)} missing of {len(want)}")
    finally:
        con.close()
    return problems


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no result under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _hashable(df):
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].map(lambda v: repr(v.tolist()) if hasattr(v, "tolist")
                                else repr(v) if isinstance(v, (list, dict, tuple)) else v)
    return out


def digest(path):
    """(rows, order-independent content digest) of a dumped result."""
    df = _hashable(_read(path))
    h = int(pd.util.hash_pandas_object(df, index=False).sum()) if len(df) else 0
    return len(df), f"{h & (2**64 - 1):016x}"


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same_column(a, b):
    if str(a.dtype).startswith("datetime") or str(b.dtype).startswith("datetime"):
        return pd.to_datetime(a).astype("datetime64[ns]").equals(
            pd.to_datetime(b).astype("datetime64[ns]"))
    if a.dtype.kind in "fc" or b.dtype.kind in "fc":
        return bool(((a.astype(float) == b.astype(float)) | (a.isna() & b.isna())).all())
    av = a.astype(object).where(~a.isna(), None)
    bv = b.astype(object).where(~b.isna(), None)
    return bool(((av == bv) | (a.isna() & b.isna())).all())


def oracle_views(data_dir):
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def against_oracle(con, sql, path):
    """None if the dumped result equals the oracle's, else the difference
    (columns sorted by name, rows sorted, exact values)."""
    got = _canon(_read(path))
    exp = _canon(con.sql(sql).df())
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs oracle {len(exp)}"
    for c in got.columns:
        try:
            same = _same_column(got[c], exp[c])
        except (TypeError, ValueError) as e:
            return f"column {c} not comparable: {e}"
        if not same:
            return f"column {c} differs from oracle"
    return None
