"""Seeded input generator for the benchmark.

Every input a workload reads is made here from the run's seed: the same seed
writes byte-identical files, another seed writes different ones. The
program receives only these files.

Banking extracts use the reference bronze CSV layout (the headers of
graft.banking.Schemas) and mix in dirty rows: null keys, every date format of
graft.functions.dates.referenceFormats, unparseable dates and re-deliveries.
The generator knows which rows survive ingest, so it also returns the
distinct valid merge keys the silver tables must hold.

Catalog tables follow the repo's TPC-H-ish testdata schemas (FIXTURES.md
section 4) at a chosen scale; documents and embeddings also feed the index
ingest slices, which carry planted near-duplicates of base rows.
"""
import csv
import datetime as dt
import io
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
HEADERS = {
    "accounts": ["Acc no", "Date", "Status"],
    "account_details": ["Acc no", "Date", "type"],
    "person": ["Acc no", "Person"],
    "person_profile": ["Person", "Name", "Date"],
    "person_iden": ["Person", "Id", "Date"],
}
ENTITIES = list(HEADERS)
STATUSES = ["Active", "In Active", "Dormant", "Closed"]
TYPES = ["CC", "Loan", "Savings", "Current"]
NAMES = ["Ahmed", "Hana", "Rana", "Omar", "Mona", "Ali", "Sara", "Youssef",
         "Laila", "Karim", "Nour", "Tarek"]
BAD_DATES = ["N/A", "2022-13-40", "??", "31/31/2022", "00-Foo-22"]
# History spans 2022-06-01 .. 2022-11-30.
HIST_START = dt.date(2022, 6, 1)
HIST_DAYS = (dt.date(2022, 11, 30) - HIST_START).days


def fmt_date(rng, d):
    """Render `d` in one of the reference formats, chosen so the program's
    first-match parse order (dd-MMM-yy, yyyy-MM-dd, dd/MM/yyyy, MM/dd/yyyy)
    yields `d` again: MM/dd/yyyy only when the day cannot read as a month."""
    k = rng.randrange(4)
    if k == 0:
        return f"{d.day:02d}-{MONTHS[d.month - 1]}-{d.year % 100:02d}"
    if k == 1:
        return d.isoformat()
    if k == 2 or d.day <= 12:
        return f"{d.day:02d}/{d.month:02d}/{d.year}"
    return f"{d.month:02d}/{d.day:02d}/{d.year}"


class Banking:
    """Accumulates bronze rows per entity and the silver key sets they imply."""

    def __init__(self, rng):
        self.rng = rng
        self.rows = {e: [] for e in ENTITIES}
        self.keys = {e: set() for e in ENTITIES}
        # dates already used per SCD2 key, so no key gets two versions on
        # one day (the timeline order would be undefined)
        self.acc_dates = {}
        self.person_dates = {"person_profile": {}, "person_iden": {}}

    def emit(self, entity, row, key):
        """Land one valid row and record the silver key it implies."""
        self.rows[entity].append(row)
        self.keys[entity].add(key)

    def dated(self, entity, key_vals, d, tail):
        """Valid dated row in the entity's header layout, its date in a random
        reference format; sometimes re-delivered, as is or re-formatted."""
        rng = self.rng
        ds = fmt_date(rng, d)
        if entity in ("accounts", "account_details"):
            row = [key_vals, ds, tail]
            key = (key_vals, d.isoformat(), tail)
        elif entity == "person_profile":
            row = [key_vals, tail, ds]
            key = (key_vals, d.isoformat(), tail)
        else:  # person_iden
            row = [key_vals, tail, ds]
            key = (key_vals, tail, d.isoformat())
        self.emit(entity, row, key)
        r = rng.random()
        if r < 0.03:  # exact re-delivery
            self.rows[entity].append(list(row))
        elif r < 0.06:  # re-delivery in another date format
            alt = list(row)
            alt[1 if entity in ("accounts", "account_details") else 2] = fmt_date(rng, d)
            self.rows[entity].append(alt)

    def dirty(self, entity, n):
        """Rows ingest must drop: a null key or an unparseable date."""
        rng = self.rng
        for _ in range(n):
            h = HEADERS[entity]
            row = [f"X{rng.randrange(10**6):06d}" for _ in h]
            if entity == "person":
                row[rng.randrange(2)] = ""
            else:
                date_idx = h.index("Date")
                row[date_idx] = fmt_date(rng, HIST_START + dt.timedelta(rng.randrange(HIST_DAYS)))
                if rng.random() < 0.5:
                    row[rng.choice([i for i in range(3) if i != date_idx])] = ""
                else:
                    row[date_idx] = rng.choice(BAD_DATES)
            self.rows[entity].append(row)

    def free_date(self, used, lo, span):
        rng = self.rng
        while True:
            d = lo + dt.timedelta(rng.randrange(span))
            if d not in used:
                used.add(d)
                return d


def acc_id(i):
    return f"A{i:07d}"


def person_id(i):
    return f"P{i:07d}"


def history(seed, n_accounts):
    """The full bronze extract of `n_accounts` accounts, as a Banking."""
    rng = random.Random(f"history-{seed}")
    b = Banking(rng)
    n_persons = max(1, int(n_accounts * 0.8))
    for i in range(n_accounts):
        a = acc_id(i)
        used = b.acc_dates.setdefault(a, set())
        n_events = rng.choice([1, 2, 3, 3, 4])
        dates = sorted(b.free_date(used, HIST_START, HIST_DAYS) for _ in range(n_events))
        status = "Active"
        for j, d in enumerate(dates):
            b.dated("accounts", a, d, status)
            status = rng.choice([s for s in STATUSES if s != status])
            if j == 0 or rng.random() < 0.3:
                b.dated("account_details", a, d, rng.choice(TYPES))
        for _ in range(rng.choice([1, 1, 2])):
            p = person_id(rng.randrange(n_persons))
            b.emit("person", [a, p], (a, p))
            if rng.random() < 0.03:
                b.rows["person"].append([a, p])
    for i in range(n_persons):
        p = person_id(i)
        for entity in ("person_profile", "person_iden"):
            used = b.person_dates[entity].setdefault(p, set())
            for k in range(rng.choice([1, 1, 2])):
                d = b.free_date(used, HIST_START, HIST_DAYS)
                tail = (f"{rng.choice(NAMES)} {rng.choice(NAMES)}" if entity == "person_profile"
                        else f"ID{rng.randrange(10**8):08d} ({rng.choice(['NID', 'PASS'])})")
                b.dated(entity, p, d, tail)
    for e in ENTITIES:
        b.dirty(e, max(1, len(b.rows[e]) // 50))
        rng.shuffle(b.rows[e])
    return b


def write_bronze(b, out_dir):
    """One CSV per entity in the reference layout; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for e in ENTITIES:
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(HEADERS[e])
        w.writerows(b.rows[e])
        data = buf.getvalue().encode()
        with open(os.path.join(out_dir, f"{e}.csv"), "wb") as f:
            f.write(data)
        total += len(data)
    return total


# ---------------------------------------------------------------- catalog

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]
LANGS = ["en"] * 4 + ["de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EMB_DIM = 64


def _ts(d):
    return dt.datetime(d.year, d.month, d.day)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def text_doc(rng, lo=10, hi=100):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def near_dup_text(rng, text):
    """Append one word: on a 30+ word text the shingle Jaccard stays near 1."""
    return f"{text} {rng.choice(VOCAB)}"


def unit_vec(rng, center, noise):
    v = [c + rng.gauss(0.0, noise) for c in center]
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def catalog_tables(seed, out_dir, scale):
    """The ten testdata tables at `scale` x sf0.01 row counts."""
    rng = random.Random(f"catalog-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    n = lambda base: max(1, int(base * scale))
    n_cust, n_ord, n_part, n_supp = n(1500), n(15000), n(2000), n(100)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)]}),
        f"{out_dir}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(['small', 'red', 'blue', 'big'])} "
                   f"{rng.choice(['ring', 'widget', 'bolt', 'gear'])}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"])
                   for _ in range(n_part)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)]}),
        f"{out_dir}/part.parquet")
    d0 = dt.date(1995, 1, 1)
    odates = [d0 + dt.timedelta(rng.randrange(2400)) for _ in range(n_ord)]
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": pa.array([_ts(d) for d in odates], pa.timestamp("ms")),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)]}),
        f"{out_dir}/orders.parquet")
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    for o in range(n_ord):
        for ln in range(1, rng.randint(1, 7) + 1):
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(float(rng.randint(1, 50)))
            li["l_extendedprice"].append(round(rng.uniform(900, 105000), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(_ts(odates[o] + dt.timedelta(rng.randint(1, 120))))
    _write(pa.table({
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_quantity": li["l_quantity"], "l_extendedprice": li["l_extendedprice"],
        "l_discount": li["l_discount"], "l_tax": li["l_tax"],
        "l_returnflag": li["l_returnflag"], "l_linestatus": li["l_linestatus"],
        "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("ms"))}),
        f"{out_dir}/lineitem.parquet")
    n_ev, n_users = n(10000), max(2, n(150))
    t0 = dt.datetime(2024, 1, 1)
    secs = sorted(rng.uniform(0, 30 * 86400) for _ in range(n_ev))
    _write(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(seconds=round(s, 6)) for s in secs], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(rng.uniform(0.01, 490), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)]}),
        f"{out_dir}/events.parquet")
    docs = documents(rng, n(500))
    write_documents(docs, f"{out_dir}/documents.parquet")
    write_embeddings(embeddings(rng, n(500)), f"{out_dir}/embeddings.parquet")
    return docs


def documents(rng, count, first_id=0):
    out = []
    for i in range(count):
        text = text_doc(rng)
        out.append((first_id + i, text, rng.choice(LANGS), f"src{rng.randrange(20)}"))
    return out


def write_documents(docs, path):
    _write(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[1] for d in docs],
        "lang": [d[2] for d in docs],
        "source": [d[3] for d in docs],
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64())}), path)


def embeddings(rng, count, first_id=0):
    """Unit vectors around ten label centres."""
    crng = random.Random("centres")
    centers = [[crng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(10)]
    out = []
    for i in range(count):
        label = rng.randrange(10)
        out.append((first_id + i, unit_vec(rng, centers[label], 0.9), label))
    return out


def write_embeddings(embs, path):
    _write(pa.table({
        "vec_id": pa.array([e[0] for e in embs], pa.int64()),
        "embedding": pa.array([e[1] for e in embs], pa.list_(pa.float32())),
        "label": pa.array([e[2] for e in embs], pa.int32())}), path)


def index_inputs(seed, out_dir, n_docs, n_slices, slice_rows, dups_per_slice):
    """Base corpus (one half) plus ingest slices from the other half, each
    with planted near-duplicates of base rows. Returns the planted pairs per
    slice as (new_id, base_id) lists for documents and embeddings."""
    rng = random.Random(f"index-{seed}")
    docs = documents(rng, n_docs)
    embs = embeddings(rng, n_docs)
    order = list(range(n_docs))
    rng.shuffle(order)
    half = n_docs // 2
    base_ids, rest = sorted(order[:half]), order[half:]
    os.makedirs(out_dir, exist_ok=True)
    write_documents([docs[i] for i in base_ids], f"{out_dir}/base_documents.parquet")
    write_embeddings([embs[i] for i in base_ids], f"{out_dir}/base_embeddings.parquet")
    planted = []
    next_id = 10 * n_docs
    for k in range(n_slices):
        ids = [rest[(k * slice_rows + j) % len(rest)] for j in range(slice_rows)]
        sd = [docs[i] for i in ids]
        se = [embs[i] for i in ids]
        # a slice reuses rows of the other half once it wraps: give every
        # slice its own id range so a batch never re-lands an id
        sd = [(next_id + j, d[1], d[2], d[3]) for j, d in enumerate(sd)]
        se = [(next_id + j, e[1], e[2]) for j, e in enumerate(se)]
        next_id += slice_rows
        pd, pe = [], []
        long_base = [i for i in base_ids if len(docs[i][1].split(" ")) >= 30]
        for _ in range(dups_per_slice):
            b = long_base[rng.randrange(len(long_base))]
            sd.append((next_id, near_dup_text(rng, docs[b][1]), docs[b][2], docs[b][3]))
            pd.append((next_id, docs[b][0]))
            v = [x + rng.gauss(0.0, 0.002) for x in embs[b][1]]
            norm = math.sqrt(sum(x * x for x in v))
            se.append((next_id, [x / norm for x in v], embs[b][2]))
            pe.append((next_id, embs[b][0]))
            next_id += 1
        write_documents(sd, f"{out_dir}/slice_{k:04d}_documents.parquet")
        write_embeddings(se, f"{out_dir}/slice_{k:04d}_embeddings.parquet")
        planted.append({"documents": pd, "embeddings": pe})
    return planted
