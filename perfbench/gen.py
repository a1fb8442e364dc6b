"""Seeded input generators for the graft benchmark.

Everything the benchmark feeds the engine comes from here, so the same
seed always gives byte-identical inputs:

* ``tables``: the ten relational tables `SparkEntry.queries` read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) with the schemas, value domains and row counts
  per scale factor of the repository's TPC-H-ish test tables (TESTDATA.md).
* ``drops``: personal-data file drops for the `live` workload: mail
  (.eml), contacts (.vcf), calendars (.ics) and one Google-Takeout-style
  location-history JSON per drop.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at sf=1 (sf0.01 -> 1,500 customers, 60,000 lineitems, ...)
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 50_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(name, sf, rng):
    n = max(1, int(round(ROWS.get(name, 0) * sf)))
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    if name == "part":
        adj = np.array(ADJ)[rng.integers(0, len(ADJ), n)]
        noun = np.array(NOUN)[rng.integers(0, len(NOUN), n)]
        keys = np.arange(n)
        return pa.table({
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    if name == "orders":
        ncust = max(1, int(round(ROWS["customer"] * sf)))
        return pa.table({
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ncust, n), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})
    if name == "lineitem":
        nord = max(1, int(round(ROWS["orders"] * sf)))
        npart = max(1, int(round(ROWS["part"] * sf)))
        nsupp = max(1, int(round(ROWS["supplier"] * sf)))
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, nord, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, nsupp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})
    if name == "events":
        start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
        span = 30 * 86_400 * 1_000_000
        ts = np.sort(start + rng.integers(0, span, n))
        return pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": _money(rng, n, 0.01, 490.02),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if name == "documents":
        lens = rng.integers(10, 100, n)
        words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
        cuts = np.concatenate([[0], np.cumsum(lens)])
        texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
        # one document in twenty is a near copy of an earlier one (one
        # token swapped), so the dedup / similarity queries find pairs
        for i in rng.choice(np.arange(1, n), n // 20, replace=False) if n > 1 else []:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[i] = " ".join(toks)
        return pa.table({
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if name == "embeddings":
        v = rng.standard_normal((n, EMB_DIM)).astype("float32")
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        flat = pa.array(v.reshape(-1), pa.float32())
        offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32())
        return pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    raise ValueError(name)


def tables(out_dir, sf, seed):
    """Write `<out_dir>/<name>.parquet` for each table."""
    os.makedirs(out_dir)
    for i, name in enumerate(ALL_TABLES):
        rng = np.random.default_rng([seed, i])  # one stream per table
        pq.write_table(_table(name, sf, rng), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- live drops

PEOPLE = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi",
          "ivan", "judy", "mallory", "oscar", "peggy", "trent", "victor", "walter"]
SITES = [(48.8566, 2.3522), (48.9100, 2.3522), (48.8400, 2.2900),
         (48.8800, 2.4100)]


def _eml(drop, i, rng, day):
    a, b = rng.choice(len(PEOPLE), 2, replace=False)
    sender, rcpt = PEOPLE[a], PEOPLE[b]
    hh, mm = int(rng.integers(8, 19)), int(rng.integers(0, 60))
    words = " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), 12)])
    return (f"Message-ID: <d{drop}m{i}@bench>\r\n"
            f"From: {sender.title()} Example <{sender}@example.com>\r\n"
            f"To: {rcpt}@example.com\r\n"
            f"Subject: drop {drop} note {i}\r\n"
            f"Date: {day.strftime('%a, %d %b %Y')} {hh:02d}:{mm:02d}:00 +0000\r\n"
            f"\r\n{words}\r\n")


def _vcf(drop, rng):
    p = PEOPLE[int(rng.integers(0, len(PEOPLE)))]
    return ("BEGIN:VCARD\r\nVERSION:3.0\r\n"
            f"UID:card-d{drop}-{p}\r\nFN:{p.title()} D{drop}\r\n"
            f"EMAIL:{p}@example.com\r\nEND:VCARD\r\n")


def _ics(drop, day, site):
    d = day.strftime("%Y%m%d")
    return ("BEGIN:VCALENDAR\r\nBEGIN:VEVENT\r\n"
            f"UID:ev-d{drop}\r\nSUMMARY:Meeting {drop}\r\n"
            f"DTSTART:{d}T120000Z\r\nDTEND:{d}T124500Z\r\n"
            f"GEO:{site[0]};{site[1]}\r\nEND:VEVENT\r\nEND:VCALENDAR\r\n")


def _locations(day, site, rng):
    """Two dwells (at `site` around noon, then elsewhere) joined by a move:
    points every 2 minutes, jittered a few metres."""
    base = int(dt.datetime(day.year, day.month, day.day, 11, 50,
                           tzinfo=dt.timezone.utc).timestamp() * 1000)
    other = SITES[(SITES.index(site) + 1) % len(SITES)]
    pts = []
    def add(t, lat, lon):
        j = rng.normal(0, 2e-5, 2)
        pts.append({"timestampMs": str(t), "latitudeE7": int(round((lat + j[0]) * 1e7)),
                    "longitudeE7": int(round((lon + j[1]) * 1e7)), "accuracy": 20})
    for i in range(31):
        add(base + i * 120_000, *site)
    for i in range(5):
        add(base + (65 + 2 * i) * 60_000, site[0] + 0.01 * (i + 1), site[1])
    for i in range(26):
        add(base + (100 + 2 * i) * 60_000, *other)
    return {"locations": pts}


def drops(out_dir, n_drops, mails_per_drop, seed):
    """Stage `n_drops` drops under `<out_dir>/<k>/{mail,loc}/`. Drop k holds
    `mails_per_drop` .eml files (the first is the drop's visibility marker,
    Message-ID `<d{k}m0@bench>`), one .vcf, one .ics and one location
    JSON for its own day (so no drop replaces another's location graph).
    Returns the manifest the benchmark checks the final store against."""
    rng = np.random.default_rng([seed, 99])
    manifest = {"drops": []}
    for k in range(n_drops):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=k)
        site = SITES[int(rng.integers(0, len(SITES)))]
        mail = os.path.join(out_dir, str(k), "mail")
        loc = os.path.join(out_dir, str(k), "loc")
        os.makedirs(mail)
        os.makedirs(loc)
        files = []
        for i in range(mails_per_drop):
            files.append(f"d{k}m{i}.eml")
            with open(os.path.join(mail, files[-1]), "w", newline="") as f:
                f.write(_eml(k, i, rng, day))
        files.append(f"d{k}.vcf")
        with open(os.path.join(mail, files[-1]), "w", newline="") as f:
            f.write(_vcf(k, rng))
        files.append(f"d{k}.ics")
        with open(os.path.join(mail, files[-1]), "w", newline="") as f:
            f.write(_ics(k, day, site))
        locs = _locations(day, site, rng)
        with open(os.path.join(loc, f"d{k}.json"), "w") as f:
            json.dump(locs, f)
        manifest["drops"].append({
            "marker": f"d{k}m0@bench", "files": files,
            "messages": [f"d{k}m{i}@bench" for i in range(mails_per_drop)],
            "locations": len(locs["locations"]),
            "day": day.isoformat()})
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
