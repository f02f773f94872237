#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>

Writes every file a workload reads, and nothing the program sees comes
from anywhere else:

- per daily slice (`day<N>/`): the
  `customer/orders/lineitem/part/nation` tables in the testdata schema
  (`c_name` = `Customer#%09d` of the key, as tools/gen_sf1.py keeps it),
  a cartera and a pending-orders CSV report (6-line preamble, 1-line
  footer, FIXTURES.md section 1.1-1.2 headers) and an `.xlsx` workbook
  of WOR named tables, written with the standard library's zipfile;
- for `dedup_graph`: documents and embeddings from tools/gen_scale.py's
  seeded process;
- `planted.json`: the row counts and load accounting the generator
  planted, which the output checks compare against.

Order dates span 1998-2001 and every month, so each slice straddles
`VentasTotales.Cutoff` (2000-01-01) and `Wor.LoadedThroughMonth` (6):
the anti-joins both drop and insert rows. The same seed gives
byte-identical files (see test_gen.py).
"""
import csv
import datetime as dt
import json
import os
import random
import sys
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, "tools")
import gen_scale  # noqa: E402  (run from the repository root)

# Sizes per workload: the reference's documented ~5,000 cartera rows a
# day, and the sf0.001 corpus counts. The harness warms up on day0 and
# times day1.
DAYS = 2
ORDERS_PER_DAY = 5000
DOCS, VECS = 500, 500
WORKLOADS = ["loads_daily", "dedup_graph"]
N_CUSTOMERS = 1500
N_PARTS = 2000
CUTOFF = dt.date(2000, 1, 1)          # VentasTotales.Cutoff
LOADED_THROUGH_MONTH = 6              # Wor.LoadedThroughMonth
EPOCH = dt.datetime(1970, 1, 1)
DATE_LO = dt.date(1998, 1, 1)
DATE_DAYS = 4 * 365

PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

ZONAS = ["Zone1", "Zone2", "Zone3", "Zone4", "Zone5", "Zone6",
         "KamEast", "KamCentral"]
MESES = ["Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio", "Julio",
         "Agosto", "Septiembre", "Octubre", "Noviembre", "Diciembre"]
PRODUCTS = ["Total", "Ricky Joy Yogurt", "Mellow Cones", "Crazy Legs",
            "Ricky Joy Gels", "Jelly Fruits", "Plis", "SSC Roll On",
            "Freeze Dried", "3D Gummies", "SC Gel", "Cotton Candy",
            "Mystery Pop"]
CATEGORY_HEADERS = ["Negocio.", "Avance $", "Avance Vol", "Vta $", "Vta Vol"]
FORECAST_HEADERS = ["ZONA/CLIENTE", "WEEK 1", "WEEK 2", "WEEK 3", "WEEK 4",
                    "WEEK 5", "TOTAL", "Py %"]
CARTERA_HEADERS = ["Zones for Financial Reporting ", "Customer:Project ",
                   "Transaction Type ", "Date ", "Document Number ",
                   "Due Date ", "Open Balance ", "P.O. No. ", "Age "]
PENDING_HEADERS = ["Customer ", "Amount (Net) ", "Document Number ", "Date ",
                   "Class Item ", "Quantity "]
ZIP_TIME = (1980, 1, 1, 0, 0, 0)


def ts_array(days):
    """Midnight timestamps (microseconds), the testdata's date encoding."""
    base = (dt.datetime.combine(DATE_LO, dt.time()) - EPOCH).days
    return pa.array((np.asarray(days, dtype=np.int64) + base) * 86_400_000_000,
                    pa.timestamp("us"))


# ----------------------------------------------------------------- tables

def dims(rs):
    custkey = np.arange(N_CUSTOMERS, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": pa.array(rs.randint(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rs.randint(0, 5, N_CUSTOMERS)],
    })
    partkey = np.arange(N_PARTS, dtype=np.int64)
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}"
             for a, b in zip(rs.randint(0, 8, N_PARTS), rs.randint(0, 8, N_PARTS))]
    part = pa.table({
        "p_partkey": partkey,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rs.randint(1, 26, N_PARTS)],
        "p_type": [PART_TYPES[i] for i in rs.randint(0, 6, N_PARTS)],
        "p_size": pa.array(rs.randint(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 2),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    return customer, part, nation


def facts(rs, key0, n_orders, part):
    okey = np.arange(key0, key0 + n_orders, dtype=np.int64)
    odays = rs.randint(0, DATE_DAYS, n_orders)
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": rs.randint(0, N_CUSTOMERS, n_orders).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rs.randint(0, 3, n_orders)],
        "o_totalprice": np.round(rs.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": ts_array(odays),
        "o_orderpriority": [PRIORITIES[i] for i in rs.randint(0, 5, n_orders)],
    })
    lines = rs.randint(1, 8, n_orders)
    n = int(lines.sum())
    l_order = np.repeat(okey, lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    l_part = rs.randint(0, N_PARTS, n).astype(np.int64)
    qty = rs.randint(1, 51, n).astype(np.float64)
    price = part.column("p_retailprice").to_numpy()[l_part]
    flag = rs.randint(0, 3, n)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rs.randint(0, 100, n).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": np.round(rs.randint(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rs.randint(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in flag],
        "l_linestatus": [("O", "F")[i] for i in rs.randint(0, 2, n)],
        "l_shipdate": ts_array(np.repeat(odays, lines) + rs.randint(1, 122, n)),
    })
    return orders, lineitem


# ---------------------------------------------------------------- reports

def money(x):
    return f"${x:,.2f}"


def report(path, title, headers, rows):
    """A report export: 6 preamble lines, the header, rows, 1 footer."""
    with open(path, "w", newline="") as f:
        f.write(f"{title}\nGraft Foods S.A.\nAll Transactions\n"
                "Report basis: Accrual\n\nExported from the ledger\n")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(headers)
        w.writerows(rows)
        f.write(f"TOTAL,{len(rows)} rows\n")
    return len(rows)


def cartera_report(path, orders, customer):
    nation = customer.column("c_nationkey").to_pylist()
    rows = []
    for k, c, st, tp, od in zip(*(orders.column(n).to_pylist() for n in (
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate"))):
        zona, cliente = f"NATION_{nation[c]}", f"  CUSTOMER#{c:09d}!  "
        if k % 101 == 0:
            zona, cliente = "Walmart", "Ecommerce"
        elif k % 103 == 0:
            zona, cliente = "Amazon", "Ecommerce"
        elif k % 97 == 0:
            cliente = "- no customer/project -"
        elif k % 89 == 0:
            cliente = f"ghost client {k}"
        bal = "N/A" if k % 113 == 0 else (
            f"({money(tp)})" if st == "F" else money(tp))
        due = od + dt.timedelta(days=30)
        rows.append([zona, cliente, "Invoice", f"{od.month}/{od.day}/{od.year}",
                     k, f"{due.month}/{due.day}/{due.year}", bal,
                     f"PO{k % 1000}", k % 90])
    return report(path, "Cartera por Edades", CARTERA_HEADERS, rows)


def pending_report(path, lineitem, orders, part, status_header):
    prio = dict(zip(orders.column("o_orderkey").to_pylist(),
                    orders.column("o_orderpriority").to_pylist()))
    cust = dict(zip(orders.column("o_orderkey").to_pylist(),
                    orders.column("o_custkey").to_pylist()))
    ptype = part.column("p_type").to_pylist()
    rows = []
    for k, ln, pk, q, ep, sd in zip(*(lineitem.column(n).to_pylist() for n in (
            "l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_extendedprice", "l_shipdate"))):
        rid = k * 8 + ln
        name = (f"ghost buyer {rid}" if rid % 97 == 0
                else f"  CUSTOMER#{cust[k]:09d}!  ")
        date = "INVALID" if rid % 111 == 0 else f"{sd.month}/{sd.day}/{sd.year}"
        rows.append([name, money(ep), f"PO-{k:010d}-{ln}-EXPORTED", date,
                     "" if pk % 53 == 0 else ptype[pk], f"{int(q * 1000):,}",
                     "" if rid % 59 == 0 else prio[k]])
    return report(path, "Open Sales Orders", PENDING_HEADERS + [status_header],
                  rows)


# --------------------------------------------------------------- workbook

def col_name(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def esc(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def xlsx(path, tables):
    """Write a workbook of named tables, one sheet per table.

    `tables` is a list of (name, header, rows); a None cell is left
    absent (openpyxl reads it as None), strings go to the shared-string
    pool, numbers are plain `<v>` cells."""
    sst, sst_idx = [], {}

    def s_idx(v):
        if v not in sst_idx:
            sst_idx[v] = len(sst)
            sst.append(v)
        return sst_idx[v]

    NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    RNS = ('xmlns:r="http://schemas.openxmlformats.org/officeDocument/'
           '2006/relationships"')
    REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    PKG = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
    parts = {}
    for t, (name, header, rows) in enumerate(tables, start=1):
        out = [f'<?xml version="1.0" encoding="UTF-8"?><worksheet {NS} {RNS}>'
               "<sheetData>"]
        for r, row in enumerate([header] + rows, start=1):
            out.append(f'<row r="{r}">')
            for c, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{col_name(c)}{r}"
                if isinstance(v, str):
                    out.append(f'<c r="{ref}" t="s"><v>{s_idx(v)}</v></c>')
                else:
                    out.append(f'<c r="{ref}"><v>{v!r}</v></c>')
            out.append("</row>")
        out.append('</sheetData><tableParts count="1">'
                   '<tablePart r:id="rIdT"/></tableParts></worksheet>')
        parts[f"xl/worksheets/sheet{t}.xml"] = "".join(out)
        parts[f"xl/worksheets/_rels/sheet{t}.xml.rels"] = (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships {PKG}>'
            f'<Relationship Id="rIdT" Type="{REL}/table" '
            f'Target="../tables/table{t}.xml"/></Relationships>')
        ref = f"A1:{col_name(len(header) - 1)}{len(rows) + 1}"
        parts[f"xl/tables/table{t}.xml"] = (
            f'<?xml version="1.0" encoding="UTF-8"?><table {NS} id="{t}" '
            f'name="{esc(name)}" displayName="{esc(name)}" ref="{ref}"/>')
    n = len(tables)
    parts["xl/workbook.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><workbook {NS} {RNS}><sheets>'
        + "".join(f'<sheet name="S{t}" sheetId="{t}" r:id="rId{t}"/>'
                  for t in range(1, n + 1))
        + "</sheets></workbook>")
    parts["xl/_rels/workbook.xml.rels"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><Relationships {PKG}>'
        + "".join(f'<Relationship Id="rId{t}" Type="{REL}/worksheet" '
                  f'Target="worksheets/sheet{t}.xml"/>' for t in range(1, n + 1))
        + f'<Relationship Id="rIdS" Type="{REL}/sharedStrings" '
          'Target="sharedStrings.xml"/></Relationships>')
    parts["xl/sharedStrings.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><sst {NS} count="{len(sst)}" '
        f'uniqueCount="{len(sst)}">'
        + "".join(f"<si><t>{esc(v)}</t></si>" for v in sst) + "</sst>")
    parts["_rels/.rels"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><Relationships {PKG}>'
        f'<Relationship Id="rId1" Type="{REL}/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>')
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.'
        'openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats'
        '-package.relationships+xml"/>'
        f'<Override PartName="/xl/workbook.xml" ContentType="{ct}.sheet.main+xml"/>'
        "</Types>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, parts[name])


def wor_tables(rs, customer, months):
    """The WOR named-table family for `months`, with FIXTURES.md 1.4's
    dirty shapes: a zone-quota first row and a 'Total' row per forecast
    table, empty client names, ghost clients, absent week cells, null
    quotas, unknown products — plus a Proyeccion_Vendedor table and an
    unclassified table, which the classification drops."""
    keys = customer.column("c_custkey").to_pylist()
    bal = customer.column("c_acctbal").to_pylist()
    tables, n_cat, n_fc = [], 0, 0
    for m in months:
        for z, zona in enumerate(ZONAS):
            rows = []
            for p, prod in enumerate(PRODUCTS):
                vta = round(float(rs.uniform(1000, 90000)), 2)
                vol = int(rs.randint(1, 500))
                rows.append([prod, round(vta * 0.25, 2), vol * 3,
                             None if p % 5 == 0 else vta, vol])
            tables.append((f"Avancedeventa_Category_{zona}_{MESES[m - 1]}",
                           CATEGORY_HEADERS, rows))
            n_cat += len(rows)
            clients = [k for k in keys if k % 8 == z]
            rows = [[zona, None, None, None, None, None,
                     round(sum(bal[k] for k in clients), 2), 0.15]]
            for k in clients:
                name = (f"ghost forecast {k}" if k % 97 == 0
                        else None if k % 89 == 0 else f"  Customer#{k:09d}  ")
                weeks = [None if (k + i) % 37 == 0
                         else round(bal[k] + i * 100.0 + m, 2) for i in range(1, 6)]
                rows.append([name] + weeks + [round(bal[k] * 5 + 1500 + m * 5, 2),
                                              0.15])
            rows.append(["Total", 1.0, 2.0, 3.0, 4.0, 5.0, 0.0, 0.15])
            tables.append((f"Forecast_{zona}_{MESES[m - 1]}",
                           FORECAST_HEADERS, rows))
            n_fc += len(rows)
    m0 = MESES[months[0] - 1]
    tables.append((f"Proyeccion_Vendedor_Zone1_{m0}", ["Vendedor", "Cuota"],
                   [["Ana", 10.0], ["Luis", 20.0]]))
    tables.append(("Resumen", ["Concepto", "Valor"], [["Total", 1.0]]))
    return tables, n_cat, n_fc


# --------------------------------------------------------------- planting

def planted_accounting(orders, lineitem):
    """Load accounting implied by the planted dirty shapes (the pipelines
    key every dirty case on order/line keys, FIXTURES.md section 3)."""
    ok = orders.column("o_orderkey").to_numpy()
    rej = (ok % 101 == 0) | (ok % 103 == 0) | (ok % 97 == 0) | (ok % 89 == 0)
    rid = lineitem.column("l_orderkey").to_numpy() * 8 + \
        lineitem.column("l_linenumber").to_numpy()
    ghost = rid % 97 == 0
    ship = lineitem.column("l_shipdate").to_numpy()
    pre = ship < np.datetime64(CUTOFF.isoformat(), "us")
    mult = np.where(rid % 131 == 0, 2, 1)
    return {
        "cartera": {"read": int(len(ok)), "rejected": int(rej.sum()),
                    "deduplicated": 0, "inserted": int((~rej).sum())},
        "pending_orders": {"read": int(len(rid)), "rejected": int(ghost.sum()),
                           "deduplicated": 0, "inserted": int((~ghost).sum())},
        "ventas": {"read": int(mult.sum()),
                   "rejected": int(mult[ghost].sum()),
                   "deduplicated": int(mult[~ghost & pre].sum()),
                   "inserted": int(mult[~ghost & ~pre].sum())},
    }


def gen_day(out, name, idx, seed, n_orders):
    rs = np.random.RandomState([seed, idx])
    d = os.path.join(out, name)
    os.makedirs(os.path.join(d, "wor"), exist_ok=True)
    customer, part, nation = dims(np.random.RandomState([seed, 1000]))
    orders, lineitem = facts(rs, 1_000_000 + idx * ORDERS_PER_DAY, n_orders, part)
    tables = {"customer": customer, "part": part, "nation": nation,
              "orders": orders, "lineitem": lineitem}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    cart = cartera_report(os.path.join(d, "cartera.csv"), orders, customer)
    pend = pending_report(os.path.join(d, "pending_orders.csv"), lineitem,
                          orders, part,
                          "Validated Status " if idx % 2 == 0 else "Status ")
    # one already-loaded and one new month
    months = [int(rs.randint(1, LOADED_THROUGH_MONTH + 1)),
              int(rs.randint(LOADED_THROUGH_MONTH + 1, 13))]
    wb, n_cat, n_fc = wor_tables(rs, customer, months)
    xlsx(os.path.join(d, "wor", "wor.xlsx"), wb)
    return {"tables": {t: int(v.num_rows) for t, v in tables.items()},
            "cartera_csv_rows": cart, "pending_csv_rows": pend,
            "wor_category_rows": n_cat, "wor_forecast_rows": n_fc,
            "accounting": planted_accounting(orders, lineitem)}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    planted = {"workload": workload, "seed": seed, "units": {}}
    if workload == "dedup_graph":
        d = os.path.join(out, "corpus")
        os.makedirs(d, exist_ok=True)
        gen_scale.write_rg(gen_scale.gen_docs(DOCS, random.Random(seed)),
                           os.path.join(d, "documents.parquet"))
        gen_scale.write_rg(gen_scale.gen_vecs(VECS, seed),
                           os.path.join(d, "embeddings.parquet"))
        planted["units"]["corpus"] = {
            "tables": {"documents": DOCS, "embeddings": VECS}}
    else:
        for idx in range(DAYS):
            planted["units"][f"day{idx}"] = gen_day(
                out, f"day{idx}", idx, seed, ORDERS_PER_DAY)
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(planted, f, indent=1, sort_keys=True)
    return planted


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: gen.py <{'|'.join(WORKLOADS)}> <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
