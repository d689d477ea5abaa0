"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, size): the same arguments
write byte-identical files. Nothing is read from outside the output
directory.

  qcew(out, seed, records)    QCEW raw extract in the 121-field,
                              1060-char latin-1 layout, one file per
                              (year, qtr), plus the NAICS description /
                              invalid-code CSVs and the wage CSVs that
                              graft.qcew.Wages reads.
  tables(out, seed, sf)       the ten registry tables (TPC-H-ish star
                              schema + events, documents, embeddings)
                              with the schemas and value domains the
                              registry queries and their oracles expect.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REC_LEN = 1060
# (name, 1-based position, length) of the fields the generator fills;
# positions follow graft.qcew.Layout
F = {
    "trans_code": (1, 1), "state_fips": (2, 2), "year": (4, 4), "qtr": (8, 1),
    "ui_code": (9, 10), "rep_uni_id": (19, 5), "ein": (24, 9),
    "leg_corp_name": (63, 35), "trade_name": (98, 35), "ui_addr_city": (203, 30),
    "naics_code": (591, 6),
    "first_month_employment": (606, 6), "second_month_employment": (613, 6),
    "third_month_employment": (620, 6), "total_wages": (627, 11),
    "taxable_wages": (639, 11), "latitude": (747, 9), "longitude": (756, 11),
}
# (year, qtr) files: 2001q1 .. 2022q1 = 85 quarters
QUARTERS = [(y, q) for y in range(2001, 2023) for q in range(1, 5)][:85]
SECTORS = ["11", "21", "22", "23", "31", "32", "33", "42", "44", "45", "48",
           "51", "52", "53", "54", "56", "61", "62", "71", "72", "81", "92"]
WORDS = ["ACME", "CARIBE", "ISLA", "SOL", "MAR", "NORTE", "SUR", "GRUPO",
         "SERVICIOS", "COMERCIAL", "INDUSTRIAS", "TECH", "SALUD", "AGRO"]
# latin-1 names: ñ (0xF1) and á (0xE1) before position-sensitive fields
HIGH = ["PIÑA", "MUÑOZ", "CAÑAS", "MÁRQUEZ", "ESPAÑOLA"]
CITIES = ["SAN JUAN", "PONCE", "MAYAGUEZ", "CAGUAS", "BAYAMON", "ARECIBO"]

# Dirty-record classes are those FIXTURES.md section 1 lists (blank
# naics_code, non-numeric counts, year 2200, latin-1 0xF1 before
# position-sensitive fields) and ROADMAP.md's ingest item (CRLF, short
# and overlong lines). The reference publishes no shares; these are
# chosen, and the counts drawn are recorded in the manifest.
DIRTY = {"high_byte": 0.05, "non_numeric": 0.005, "year_2200": 0.002,
         "blank_naics": 0.005, "short": 0.003, "overlong": 0.003}

# The reference corpus (BASELINE.md): 4,290,433 records in 85 (year,
# qtr) partitions aggregate to 21,663 (year, qtr, naics4) groups over
# 308 NAICS4 codes after the "more than 4 establishments" suppression.
REF_CODES, REF_RECORDS, REF_GROUPS, REF_QUARTERS = 308, 4_290_433, 21_663, 85


def _kept(weights, n):
    """Expected groups with more than 4 records in a quarter of n
    records whose industries are drawn with `weights` (Poisson model)."""
    kept = 0.0
    for w in weights:
        lam = n * w
        kept += 1.0 - math.exp(-lam) * sum(lam ** i / math.factorial(i) for i in range(5))
    return kept


def zipf_exponent():
    """Exponent s of the rank weights k^-s over the 308 codes for which
    a reference-sized quarter keeps the reference's groups per quarter
    (21,663 / 85 = 254.9 of 308; s is about 1.5)."""
    n, want = REF_RECORDS / REF_QUARTERS, REF_GROUPS / REF_QUARTERS
    lo, hi = 0.1, 4.0
    for _ in range(60):
        s = (lo + hi) / 2
        w = np.arange(1, REF_CODES + 1) ** -s
        if _kept(w / w.sum(), n) > want:
            lo = s
        else:
            hi = s
    return (lo + hi) / 2


def naics_pool():
    """The 308 4-digit industries (14 per 2-digit sector) in rank order,
    their draw weights, and two 6-digit codes per industry."""
    rng = np.random.default_rng(7)
    n4 = [s + f"{int(x):02d}" for s in SECTORS
          for x in sorted(rng.choice(np.arange(10, 100), REF_CODES // len(SECTORS), replace=False))]
    n4 = [n4[i] for i in rng.permutation(len(n4))]
    w = np.arange(1, len(n4) + 1) ** -zipf_exponent()
    return n4, w / w.sum(), [c + f"{int(x):02d}" for c in n4
                             for x in rng.choice(np.arange(10, 100), 2, replace=False)]


def _put(buf, name, value, right=False):
    pos, ln = F[name]
    b = value.encode("latin-1")[:ln]
    b = b.rjust(ln, b"0") if right else b.ljust(ln, b" ")
    buf[pos - 1:pos - 1 + ln] = b


def qcew(out, seed, records):
    """Raw extract + dimension and wage CSVs; returns the manifest."""
    rng = np.random.default_rng([seed, 1])
    n4, w4, n6 = naics_pool()
    # an industry's weight is split evenly over its two 6-digit codes
    w = np.repeat(w4 / 2, 2)
    per_file = rng.multinomial(records, np.full(len(QUARTERS), 1 / len(QUARTERS)))
    crlf_file = int(rng.integers(0, len(QUARTERS)))
    ragged_files = {int(x) for x in rng.choice(len(QUARTERS), 2, replace=False)} - {crlf_file}
    counts = dict.fromkeys(DIRTY, 0)
    counts["crlf_records"] = 0
    raw_bytes = 0
    for fi, ((year, qtr), n) in enumerate(zip(QUARTERS, per_file)):
        codes = rng.choice(len(n6), n, p=w)
        emp = rng.integers(0, 400, (n, 3))
        kind = rng.random((n, 6))
        lines = []
        for i in range(n):
            buf = bytearray(b" " * REC_LEN)
            _put(buf, "trans_code", "A")
            _put(buf, "state_fips", "72")
            y = year
            if kind[i, 2] < DIRTY["year_2200"]:
                y = 2200
                counts["year_2200"] += 1
            _put(buf, "year", str(y))
            _put(buf, "qtr", str(qtr))
            _put(buf, "ui_code", str(int(rng.integers(10 ** 9, 10 ** 10))))
            _put(buf, "rep_uni_id", "1", right=True)
            _put(buf, "ein", str(int(rng.integers(10 ** 8, 10 ** 9))))
            name = WORDS[(i * 7 + fi) % len(WORDS)] + " " + WORDS[(i * 3 + 1) % len(WORDS)]
            if kind[i, 0] < DIRTY["high_byte"]:
                name = HIGH[i % len(HIGH)] + " " + name
                counts["high_byte"] += 1
            _put(buf, "leg_corp_name", name + " INC")
            _put(buf, "trade_name", name)
            _put(buf, "ui_addr_city", CITIES[i % len(CITIES)])
            if kind[i, 3] < DIRTY["blank_naics"]:
                counts["blank_naics"] += 1
            else:
                _put(buf, "naics_code", n6[codes[i]])
            m = [str(int(v)) for v in emp[i]]
            wages = str(int(emp[i].sum()) * int(rng.integers(600, 1400)))
            if kind[i, 1] < DIRTY["non_numeric"]:
                m[int(kind[i, 1] * 3000) % 3] = "12A4"
                counts["non_numeric"] += 1
            for f, v in zip(("first_month_employment", "second_month_employment",
                             "third_month_employment"), m):
                _put(buf, f, v, right=v.isdigit())
            _put(buf, "total_wages", wages, right=True)
            _put(buf, "taxable_wages", str(int(wages) * 3 // 4), right=True)
            _put(buf, "latitude", f"{18.0 + kind[i, 4] * 0.5:.5f}")
            _put(buf, "longitude", f"{-67.2 + kind[i, 5] * 1.6:.5f}")
            line = bytes(buf)
            if fi in ragged_files and kind[i, 4] < DIRTY["short"] * 20:
                line = line[:100 + int(kind[i, 5] * 900)]
                counts["short"] += 1
            elif fi in ragged_files and kind[i, 4] > 1 - DIRTY["overlong"] * 20:
                line = line + b"X" * (1 + int(kind[i, 5] * 40))
                counts["overlong"] += 1
            lines.append(line)
        sep = b"\r\n" if fi == crlf_file else b"\n"
        if fi == crlf_file:
            counts["crlf_records"] = int(n)
        d = os.path.join(out, "raw", "qcew", str(year))
        os.makedirs(d, exist_ok=True)
        data = sep.join(lines) + sep
        with open(os.path.join(d, f"pr-qcew-{year}-q{qtr}.txt"), "wb") as fh:
            fh.write(data)
        raw_bytes += len(data)

    dims = os.path.join(out, "dims")
    os.makedirs(dims, exist_ok=True)
    # every fifth industry has no description (left join keeps it, label null)
    with open(os.path.join(dims, "naics_desc.csv"), "w") as fh:
        fh.write("naics_code,naics_desc\n")
        for j, c in enumerate(n4):
            if j % 5 != 4:
                fh.write(f"{c},Industry {c}\n")
    invalid = [n4[3], n4[17], n4[41]]
    with open(os.path.join(dims, "invalid.csv"), "w") as fh:
        fh.write("naics_data\n" + "".join(c + "\n" for c in invalid))
    # quarterly wage series per 6-digit code; blank measures, code "0"
    # and invalid codes are all present and must be dropped downstream
    wrng = np.random.default_rng([seed, 2])
    with open(os.path.join(dims, "wages_q.csv"), "w") as fh:
        fh.write("year,qtr,naics_code,total_wages,taxable_wages\n")
        for (year, qtr) in QUARTERS:
            for c in n6 + ["0"]:
                tw = int(wrng.integers(10 ** 5, 10 ** 8))
                tws = "" if wrng.random() < 0.03 else str(tw)
                fh.write(f"{year},{qtr},{c},{tws},{tw * 3 // 4}\n")
    manifest = {
        "seed": seed, "records": int(records), "files": len(QUARTERS),
        "raw_bytes": raw_bytes, "crlf_file": "%d-q%d" % QUARTERS[crlf_file],
        "ragged_files": sorted("%d-q%d" % QUARTERS[f] for f in ragged_files),
        "dirty_counts": counts, "naics4": n4, "invalid": invalid,
    }
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def tables(out, seed, sf):
    """The ten registry tables at scale factor `sf` (sf=0.01: 60k lineitem)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    ts_us = pa.timestamp("us")
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "red", "small", "old"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    day0 = np.datetime64("1995-01-01")
    ospan = (np.datetime64("2001-08-01") - day0).astype(int)
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array((day0 + rng.integers(0, ospan + 1, n_ord))
                                .astype("datetime64[us]"), ts_us),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    sspan = (np.datetime64("2001-11-04") - day0).astype(int)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((day0 + rng.integers(1, sspan + 1, n_li))
                               .astype("datetime64[us]"), ts_us)})
    # events: uniform over January 2024, event_id in time order
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10 ** 6, n_ev)) + t0
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), ts_us),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])
                      [rng.integers(0, 5, n_ev)],
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array("a agg batch big column customer data fast filter group hash "
                     "join key line merge order part query row scan slow small sort "
                     "spark stream table the value vector window".split())
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))])
             for _ in range(n_doc)]
    # 5% near-duplicates: another document's text plus " dup"
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))].removesuffix(" dup") + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64), "text": texts,
        "lang": langs[rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
