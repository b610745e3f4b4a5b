"""Seeded generator of daily sales drops in the reference data layout.

Each drop is a directory that `graft.pipeline.MedallionJob` takes as its
data dir:

    sales/source=IN/format=csv/date=<d>/order-<yyyymmdd>.csv
    sales/source=US/format=parquet/date=<d>/order-<yyyymmdd>.snappy.parquet
    sales/source=FR/format=json/date=<d>/order-<yyyymmdd>.json
    exchange-rate-data.csv

- IN is quoted CSV whose delivery addresses embed newlines, with `null`
  literals and a seeded share of corrupt records (too few fields, or an
  unparseable order date);
- US is parquet with a string `Order Date`;
- FR is one outer JSON array with string-typed numerics;
- the forex file covers every generated date, in every drop;
- some orders come back in a later file as a newer revision (a status
  that moved on to Paid+Delivered, or a corrected quantity), so curation's
  newest-revision dedup has work to do;
- file mtimes derive from the seed and rise with the date, so lineage and
  dedup order reproduce;
- each customer name has one contact and one address per country.

The first drop is a multi-day backfill; every later drop is one day. The
generator also derives, without any engine, what the pipeline must
produce: loaded/skipped counts per drop and country, and the set of
(order id, date) pairs whose newest revision is Paid+Delivered.
"""
import csv
import datetime as dt
import io
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

COUNTRIES = (("IN", "csv"), ("US", "parquet"), ("FR", "json"))
FIELDS = ("Order ID", "Customer Name", "Mobile Model", "Quantity", "Price per Unit",
          "Total Price", "Promotion Code", "Order Amount", "Tax", "Order Date",
          "Payment Status", "Shipping Status", "Payment Method", "Payment Provider",
          "Contact", "Delivery Address")
CONTACT = {"IN": "Mobile", "US": "Phone", "FR": "Phone"}
TAX = {"IN": "GST", "US": "Tax", "FR": "Tax"}
TAX_RATE = {"IN": 0.18, "US": 0.07, "FR": 0.20}
PRICE = {"IN": (8000, 150000), "US": (150, 1900), "FR": (140, 1800)}
BRANDS = {"Apple": ("iPhone 11", "iPhone 12", "iPhone SE"),
          "Samsung": ("Galaxy S20", "Galaxy A51", "Note 10"),
          "LG": ("Q Stylus+", "Velvet", "K61"),
          "Xiaomi": ("Redmi 9", "Mi 10", "Poco X3"),
          "OnePlus": ("8T", "Nord", "8 Pro")}
COLORS = ("Black", "White", "Blue", "Red", "Green")
MEMORY = ("4 GB/64 GB", "6 GB/128 GB", "8 GB/256 GB")
PROMOS = ("BIRTHDAYGIFT", "NEWYEAR", "FESTIVE10", "WELCOME5", "LOYAL15")
PAYMENT = (("Credit Card", "Visa"), ("Credit Card", "Mastercard"),
           ("Net Banking", "HDBC"), ("Wallet", "PayPal"), ("COD", "Cash"))
FIRST = ("Aarav", "Vihaan", "Anaya", "Diya", "Reyansh", "Emma", "Liam", "Olivia",
         "Noah", "Chloe", "Louis", "Jade", "Hugo", "Lea", "Mia", "Ethan", "Zoe", "Arjun")
LAST = ("Garde", "Sharma", "Patel", "Smith", "Johnson", "Brown", "Martin", "Bernard",
        "Dubois", "Moreau", "Khan", "Iyer", "Lopez", "Clark", "Petit", "Roux")
CITIES = {"IN": ("Mumbai", "Pune", "Delhi", "Chennai"),
          "US": ("Austin", "Denver", "Miami", "Boston"),
          "FR": ("Paris", "Lyon", "Nantes", "Lille")}
FX_COLS = ("usd2usd", "usd2eu", "usd2can", "usd2uk", "usd2inr", "usd2jp")
FIRST_DAY = dt.date(2020, 1, 1)


class Layout:
    """Sizes of one generated drop sequence."""

    def __init__(self, backfill_days=5, daily_drops=2, rows_per_day=300,
                 customers=120, revise_share=0.06, corrupt_share=0.02):
        self.backfill_days = backfill_days
        self.daily_drops = daily_drops
        self.rows_per_day = rows_per_day
        self.customers = customers
        self.revise_share = revise_share
        self.corrupt_share = corrupt_share

    def days(self):
        n = self.backfill_days + self.daily_drops
        return [FIRST_DAY + dt.timedelta(days=i) for i in range(n)]

    def drop_days(self):
        """Dates in each drop: one backfill, then one day per drop."""
        days = self.days()
        b = self.backfill_days
        return [days[:b]] + [[d] for d in days[b:]]


def _customers(rnd, cc, n):
    names = set()
    while len(names) < n:
        names.add(f"{rnd.choice(FIRST)} {rnd.choice(LAST)} {rnd.randrange(100, 1000)}")
    out = {}
    for name in sorted(names):
        city = rnd.choice(CITIES[cc])
        street = f"{rnd.randrange(1, 999)} {rnd.choice(LAST)} Road"
        if cc == "IN":
            contact = f"9{rnd.randrange(10**8, 10**9)}"
            address = f"{street}\n{city} - {rnd.randrange(400000, 700000)}"
        elif cc == "US":
            contact = f"+1-{rnd.randrange(200, 999)}-{rnd.randrange(200, 999)}-{rnd.randrange(1000, 9999)}"
            address = f"{street}, {city}"
        else:
            contact = " ".join(f"{rnd.randrange(0, 100):02d}" for _ in range(5))
            address = f"{street}, {city}"
        out[name] = (contact, address)
    out["names"] = sorted(names)
    return out


def _order(rnd, cc, day, customers):
    name = rnd.choice(customers["names"])
    contact, address = customers[name]
    brand = rnd.choice(sorted(BRANDS))
    qty = rnd.randint(1, 3)
    lo, hi = PRICE[cc]
    price = rnd.randrange(lo, hi)
    total = qty * price
    promo = rnd.choice(PROMOS) if rnd.random() < 0.73 else None
    amount = round(total * (0.94 if promo else 1.0), 2)
    pay = rnd.choice(PAYMENT)
    paid = rnd.random() < 0.7
    ship = rnd.choice(("Delivered", "Delivered", "Transit", "Returned")) if paid \
        else rnd.choice(("Transit", "Returned"))
    oid = "".join(rnd.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(10)) \
        + str(rnd.randrange(10**9, 10**10))
    return {"Order ID": oid, "Customer Name": name,
            "Mobile Model": f"{brand}/{rnd.choice(BRANDS[brand])}/{rnd.choice(COLORS)}/{rnd.choice(MEMORY)}",
            "Quantity": qty, "Price per Unit": price, "Total Price": total,
            "Promotion Code": promo, "Order Amount": amount,
            "Tax": round(amount * TAX_RATE[cc], 2), "Order Date": day.isoformat(),
            "Payment Status": "Paid" if paid else "Pending", "Shipping Status": ship,
            "Payment Method": pay[0], "Payment Provider": pay[1],
            "Contact": contact, "Delivery Address": address}


def _revise(rnd, row):
    """A newer revision: the order got paid and delivered, or its quantity
    was corrected. Never a move away from Paid+Delivered, so the newest
    revision decides the curated set whichever revision is read first."""
    new = dict(row)
    if (row["Payment Status"], row["Shipping Status"]) != ("Paid", "Delivered") \
            and rnd.random() < 0.7:
        new["Payment Status"], new["Shipping Status"] = "Paid", "Delivered"
    else:
        q = row["Quantity"] % 3 + 1
        new["Quantity"], new["Total Price"] = q, q * row["Price per Unit"]
        new["Order Amount"] = round(new["Total Price"] * (0.94 if row["Promotion Code"] else 1.0), 2)
    return new


def _in_csv(rows, corrupt):
    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
    header = [TAX["IN"] if f == "Tax" else CONTACT["IN"] if f == "Contact" else f for f in FIELDS]
    w.writerow(header)
    for i, r in enumerate(rows):
        vals = ["null" if r[f] is None and i % 2 else "" if r[f] is None else r[f] for f in FIELDS]
        w.writerow(vals)
        for kind in corrupt.get(i, ()):
            if kind == "short":
                w.writerow(vals[:9])
            else:
                bad = list(vals)
                bad[FIELDS.index("Order Date")] = "2020-13-45"
                w.writerow(bad)
    return buf.getvalue()


def _fr_json(rows):
    out = []
    for r in rows:
        o = {("Phone" if f == "Contact" else f): r[f] for f in FIELDS}
        o["Price per Unit"] = str(r["Price per Unit"])
        o["Quantity"] = str(r["Quantity"])
        o["Tax"] = r["Tax"] + 1e-13 if r["Tax"] else r["Tax"]
        out.append(o)
    return json.dumps(out, indent=1)


def _us_parquet(rows, path):
    cols = {}
    for f in FIELDS:
        name = "Phone" if f == "Contact" else f
        vals = [r[f] for r in rows]
        if f in ("Quantity", "Price per Unit", "Total Price"):
            cols[name] = pa.array(vals, type=pa.int64())
        elif f in ("Order Amount", "Tax"):
            cols[name] = pa.array(vals, type=pa.float64())
        else:
            cols[name] = pa.array(vals, type=pa.string())
    pq.write_table(pa.table(cols), path, compression="snappy")


def _forex(rnd, days):
    lines = ["date," + ",".join(FX_COLS)]
    for d in sorted(days, reverse=True):  # the reference file is newest-first
        rates = (1.0, 0.9 + rnd.random() * 0.02, 1.3 + rnd.random() * 0.02,
                 0.76 + rnd.random() * 0.02, 71 + rnd.random(), 108 + rnd.random())
        lines.append(d.isoformat() + "," + ",".join(f"{x:.7f}" for x in rates))
    return "\n".join(lines) + "\n"


def generate(root, seed, layout=None):
    """Write drop-0 .. drop-N under `root`; returns the drop directories
    and the expected outputs."""
    layout = layout or Layout()
    rnd = random.Random(seed)
    customers = {cc: _customers(rnd, cc, layout.customers) for cc, _ in COUNTRIES}
    forex = _forex(rnd, layout.days())
    base_mtime = 1_600_000_000 + rnd.randrange(0, 10**6)
    pending = {cc: [] for cc, _ in COUNTRIES}  # rows that may be revised later
    newest = {}                                # (cc, id, date) -> newest good revision
    drops, expected, file_no = [], [], 0
    for i, days in enumerate(layout.drop_days()):
        ddir = os.path.join(root, f"drop-{i}")
        report = {}
        for cc, fmt in COUNTRIES:
            loaded = skipped = 0
            for day in days:
                rows = [_order(rnd, cc, day, customers[cc]) for _ in range(layout.rows_per_day)]
                revs = [r for r in pending[cc] if rnd.random() < layout.revise_share]
                pending[cc] = [r for r in pending[cc] if r not in revs] + rows
                rows = rows + [_revise(rnd, r) for r in revs]
                corrupt = {}
                if fmt == "csv":
                    for j in range(len(rows)):
                        if rnd.random() < layout.corrupt_share:
                            corrupt[j] = (rnd.choice(("short", "bad_date")),)
                skipped += len(corrupt)
                loaded += len(rows)
                for r in rows:
                    newest[(cc, r["Order ID"], r["Order Date"])] = r
                d = os.path.join(ddir, "sales", f"source={cc}", f"format={fmt}", f"date={day}")
                os.makedirs(d, exist_ok=True)
                stem = f"order-{day.strftime('%Y%m%d')}"
                if fmt == "csv":
                    path = os.path.join(d, stem + ".csv")
                    with open(path, "w", newline="") as fh:
                        fh.write(_in_csv(rows, corrupt))
                elif fmt == "json":
                    path = os.path.join(d, stem + ".json")
                    with open(path, "w") as fh:
                        fh.write(_fr_json(rows))
                else:
                    path = os.path.join(d, stem + ".snappy.parquet")
                    _us_parquet(rows, path)
                file_no += 1
                t = base_mtime + 3600 * file_no
                os.utime(path, (t, t))
            report[cc] = {"loaded": loaded, "skipped": skipped}
        fx = os.path.join(ddir, "exchange-rate-data.csv")
        with open(fx, "w") as fh:
            fh.write(forex)
        os.utime(fx, (base_mtime, base_mtime))
        paid = sorted(f"{k[1]}|{k[2]}" for k, r in newest.items()
                      if (r["Payment Status"], r["Shipping Status"]) == ("Paid", "Delivered"))
        drops.append(ddir)
        expected.append({"days": [d.isoformat() for d in days], "source": report,
                         "rows": sum(v["loaded"] + v["skipped"] for v in report.values()),
                         "bytes": tree_bytes(ddir), "paid_delivered": paid})
    return drops, expected


def tree_bytes(path):
    return sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(path) for f in fs)


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    drops, exp = generate(a.out, a.seed)
    for d, e in zip(drops, exp):
        print(d, e["days"], e["source"], len(e["paid_delivered"]), e["bytes"])
