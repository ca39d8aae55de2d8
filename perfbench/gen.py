"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed and sizes: the same seed
gives byte-identical parquet files.

- ``write_query_tables`` writes the TPC-H-like star schema, the
  ``events`` change-log stand-in, ``documents`` and ``embeddings`` the
  named queries read.
- ``write_etl`` writes the 12 declared RSBSA tables (schemas taken from
  the engine's ``schema/Schemas``) as the replay source, a differing
  initial target and a sequence of change-log batches.
"""
import datetime as dt
import decimal
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ------------------------------------------------------------------ queries

NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

US_PER_DAY = 86_400_000_000


def _ts(base, offsets_us):
    """timestamp[us] array from a base date and microsecond offsets."""
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(epoch + np.asarray(offsets_us, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(seed, sf, n_docs, n_emb):
    """The query workloads' tables as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), odays * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 1),
                          (np.repeat(odays, lines) + rng.integers(1, 122, n_li))
                          * US_PER_DAY)})
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(rng, n_docs)
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 0.08, (10, 64))
    emb = (centroids[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def documents(rng, n):
    """Bag-of-words documents; about 2% exact and 8% near duplicates of an
    earlier document, so the dedup and similarity heads find pairs."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS),
                                                               rng.integers(8, 90))]))
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.41, 0.15, 0.14, 0.15, 0.15])]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def write_query_tables(out, seed, sf, n_docs, n_emb):
    os.makedirs(out, exist_ok=True)
    for name, table in query_tables(seed, sf, n_docs, n_emb).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------------- ETL

#: the tables each change-log batch names: both merge strategies, the
#: widest one-to-one table, decimals, and the ownership table whose rows
#: cascade to ``farmparcel``
BATCH_TABLES = ["farmers_kyc1", "farmers_kyc3", "farmers_livelihood",
                "farmparcelactivity", "farmparcelownership"]

#: mean source rows per farmer for the one-to-many tables. The two the
#: batches name are set so that a valid change-log record syncs about two
#: rows, cascade included, as in the reference's run log (8 records, 17
#: rows synced per run); the others are assumed.
FAN_OUT = {"farmers_attachments": 1.5, "farmers_fca": 0.8,
           "farmers_form_attachments": 1.0, "farmers_livelihood": 2.4,
           "farmparcelactivity": 2.8, "farmparcelattachments": 1.0}

#: share of a batch's valid records whose key only the target holds (a
#: farmer removed from the source), so merges also delete; assumed
ORPHAN_SHARE = 0.05

NAMES = ["juan", "maria", "jose", "ana", "pedro", "rosa", "niño", "peña",
         "santos", "reyes", "cruz", "bautista", "ocampo", "garcia", "dela cruz",
         "mendoza", "villanueva", "ramos", "aquino", "castillo"]


def arrow_type(t):
    """pyarrow type of a Spark schema JSON type."""
    simple = {"string": pa.string(), "integer": pa.int32(), "long": pa.int64(),
              "boolean": pa.bool_(), "byte": pa.int8(), "date": pa.date32(),
              "timestamp": pa.timestamp("us", tz="UTC"),
              "timestamp_ntz": pa.timestamp("us"), "float": pa.float32(),
              "double": pa.float64(), "binary": pa.binary()}
    if t in simple:
        return simple[t]
    if t.startswith("decimal("):
        p, s = t[8:-1].split(",")
        return pa.decimal128(int(p), int(s))
    raise ValueError(f"unsupported type {t}")


def _column(rng, field, n):
    """Random values for one non-key column, about 5% null."""
    typ = arrow_type(field["type"])
    name = field["name"]
    if pa.types.is_string(typ):
        if "name" in name or name in ("spouse", "street", "specify"):
            vals = [f"{NAMES[a]} {NAMES[b]}" for a, b in
                    zip(rng.integers(0, len(NAMES), n), rng.integers(0, len(NAMES), n))]
        else:
            vals = [f"{WORDS[a]} {b}" for a, b in
                    zip(rng.integers(0, len(WORDS), n), rng.integers(0, 1000, n))]
    elif pa.types.is_int8(typ):
        vals = rng.integers(0, 100, n).tolist()
    elif pa.types.is_integer(typ):
        vals = rng.integers(0, 100_000, n).tolist()
    elif pa.types.is_boolean(typ):
        vals = (rng.random(n) < 0.5).tolist()
    elif pa.types.is_date(typ):
        vals = [dt.date(2000, 1, 1) + dt.timedelta(days=int(d))
                for d in rng.integers(0, 9000, n)]
    elif pa.types.is_timestamp(typ):
        epoch = 946_684_800_000_000  # 2000-01-01
        vals = (epoch + rng.integers(0, 25 * 365 * US_PER_DAY, n)).tolist()
        return _nulls(rng, pa.array(vals, pa.int64()).cast(typ), n)
    elif pa.types.is_decimal(typ):
        q = decimal.Decimal(1).scaleb(-typ.scale)
        vals = [decimal.Decimal(int(v)).scaleb(-typ.scale).quantize(q)
                for v in rng.integers(0, 10 ** (typ.precision - 1), n)]
    elif pa.types.is_floating(typ):
        vals = np.round(rng.uniform(-180, 180, n), 3).tolist()
    elif pa.types.is_binary(typ):
        vals = [rng.bytes(int(k)) for k in rng.integers(16, 64, n)]
    else:
        raise ValueError(typ)
    return _nulls(rng, pa.array(vals, typ), n)


def _nulls(rng, arr, n):
    return pc.if_else(pa.array(rng.random(n) < 0.05), pa.nulls(n, arr.type), arr)


def _table(rng, schema, columns):
    """A table of the declared schema: given columns as is, the rest random."""
    n = len(next(iter(columns.values())))
    arrays = [pa.array(columns[f["name"]], arrow_type(f["type"])) if f["name"] in columns
              else _column(rng, f, n) for f in schema["fields"]]
    return pa.Table.from_arrays(arrays, names=[f["name"] for f in schema["fields"]])


def etl_source(rng, meta, n_farmers):
    """The 12 source tables, keyed on ``rsbsa_no`` (``farmparcel`` on
    ``parcel_id``)."""
    tables = meta["tables"]
    farmers = [f"{a:02d}-{b:02d}-{c:03d}-{i:06d}" for i, (a, b, c) in
               enumerate(zip(rng.integers(1, 17, n_farmers), rng.integers(1, 80, n_farmers),
                             rng.integers(1, 400, n_farmers)))]
    out = {}
    for name in ("farmers_kyc1", "farmers_kyc2", "farmers_kyc3", "farmers_kyc4"):
        keys = [f for f, keep in zip(farmers, rng.random(n_farmers) < 0.95) if keep]
        out[name] = _table(rng, tables[name]["schema"], {"rsbsa_no": keys})
    for name, mean in FAN_OUT.items():
        keys = np.repeat(farmers, rng.poisson(mean, n_farmers)).tolist()
        cols = {"rsbsa_no": keys}
        if name.startswith("farmparcel"):
            cols["parcel_id"] = [f"P{i:07d}" for i in rng.integers(0, 10 ** 7, len(keys))]
        out[name] = _table(rng, tables[name]["schema"], cols)
    # each farmer owns 1-3 parcels; one parcel in ten has a second owner
    owned = rng.integers(1, 4, n_farmers)
    owners = np.repeat(farmers, owned).tolist()
    parcels = [f"P{i:07d}" for i in range(len(owners))]
    co = [i for i in range(len(parcels)) if rng.random() < 0.1]
    owners += [farmers[rng.integers(0, n_farmers)] for _ in co]
    parcel_ids = parcels + [parcels[i] for i in co]
    out["farmparcelownership"] = _table(rng, tables["farmparcelownership"]["schema"],
                                        {"rsbsa_no": owners, "parcel_id": parcel_ids})
    # one row per parcel, two for one parcel in twenty
    rows = parcels + [p for p in parcels if rng.random() < 0.05]
    out["farmparcel"] = _table(rng, tables["farmparcel"]["schema"], {"parcel_id": rows})
    return farmers, out


def etl_target(rng, meta, source):
    """A differing initial target: per table, 15% of the keys are missing,
    30% hold stale rows (one-to-many keys also carry an extra stale row),
    half the rest were synced before (upper-cased) and 2% are keys the
    source does not have."""
    out = {}
    for name, src in source.items():
        spec = meta["tables"][name]
        key = spec["key"]
        keys = sorted(set(src.column(key).to_pylist()))
        fate = dict(zip(keys, rng.choice(4, len(keys), p=[0.15, 0.30, 0.275, 0.275])))
        k = src.column(key).to_pylist()
        kept = src.filter(pa.array([fate[x] != 0 for x in k]))
        k = kept.column(key).to_pylist()
        stale = pa.array([fate[x] == 1 for x in k])
        synced = pa.array([fate[x] == 2 for x in k])
        cols = {}
        for f in kept.schema:
            col = kept.column(f.name).combine_chunks()
            if f.name != key and pa.types.is_string(f.type):
                if f.name in spec["upper"]:
                    col = pc.if_else(synced, pc.utf8_upper(col), col)
                col = pc.if_else(stale, pc.binary_join_element_wise(
                    col, pa.scalar("stale"), " "), col)
            cols[f.name] = col
        table = pa.table(cols)
        extra = [table]
        if not spec["one_to_one"]:
            idx = [i for i, s in enumerate(stale.to_pylist()) if s]
            extra.append(table.take(pa.array(idx[::2], pa.int64())))
        orphans = table.take(pa.array(
            rng.integers(0, table.num_rows, max(1, table.num_rows // 50)), pa.int64()))
        orphan_keys = [f"X{x}" for x in orphans.column(key).to_pylist()]
        if spec["one_to_one"]:
            orphan_keys = sorted(set(orphan_keys))
            orphans = orphans.slice(0, len(orphan_keys))
        extra.append(orphans.set_column(orphans.schema.get_field_index(key), key,
                                        pa.array(orphan_keys, pa.string())))
        out[name] = pa.concat_tables(extra)
    return out


def etl_batches(rng, farmers, target, n_batches, batch_rows, invalid=3):
    """Change-log batches (log_id, rsbsa_no, table). Every batch names
    each of ``BATCH_TABLES``; ``ORPHAN_SHARE`` of the keys are keys only
    the target holds, the rest farmers; ``invalid`` rows lack a key or a
    table, so skip counting has something to count."""
    orphan = sorted({k for k in target["farmers_kyc1"].column("rsbsa_no").to_pylist()
                     if k.startswith("X")})
    log_id = 0
    out = []
    for _ in range(n_batches):
        n = batch_rows - invalid
        tables = BATCH_TABLES + [BATCH_TABLES[i] for i in
                                 rng.integers(0, len(BATCH_TABLES), n - len(BATCH_TABLES))]
        keys = [orphan[rng.integers(0, len(orphan))] if rng.random() < ORPHAN_SHARE
                else farmers[rng.integers(0, len(farmers))] for _ in range(n)]
        keys += [None, None, farmers[rng.integers(0, len(farmers))]]
        tables += [BATCH_TABLES[0], BATCH_TABLES[2], None]
        order = rng.permutation(len(keys))
        out.append(pa.table({
            "log_id": pa.array(np.arange(log_id, log_id + len(keys)), pa.int64()),
            "rsbsa_no": pa.array([keys[i] for i in order], pa.string()),
            "table": pa.array([tables[i] for i in order], pa.string())}))
        log_id += len(keys)
    return out


def load_meta(path):
    """The engine's table catalog and oracle SQL, as ``Main meta`` wrote it."""
    with open(path) as f:
        meta = json.load(f)
    for spec in meta["tables"].values():
        spec["schema"] = json.loads(spec["schema"])
    return meta


def write_etl(out, meta, seed, n_farmers, n_batches, batch_rows):
    rng = np.random.default_rng(seed)
    farmers, source = etl_source(rng, meta, n_farmers)
    target = etl_target(rng, meta, source)
    batches = etl_batches(rng, farmers, target, n_batches, batch_rows)
    for sub, tables in (("src", source), ("target0", target)):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(out, sub, f"{name}.parquet"))
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    for i, b in enumerate(batches):
        pq.write_table(b, os.path.join(out, "batches", f"b{i:03d}.parquet"))
