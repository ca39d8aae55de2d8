"""Output checks, computed apart from the engine.

- ``EtlModel`` replays the generated change-log batches over the
  generated source and initial target in plain Python and compares each
  published target snapshot with its state.
- ``check_queries`` compares each query result with DuckDB running the
  engine's oracle SQL over the same parquet, in the canonical form of
  ``tools/check.py``: columns sorted by name, rows sorted, values equal
  or within 1e-12 relative.
"""
import collections
import functools
import importlib.util
import os
import pickle

import pyarrow as pa
import pyarrow.parquet as pq


# ------------------------------------------------------------- ETL model

def _plain(arr):
    """Python values of an arrow column in a form both writers agree on:
    timestamps as UTC microseconds, dates as days, decimals as strings,
    binaries as hex."""
    t = arr.type
    if pa.types.is_timestamp(t):
        return arr.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64()).to_pylist()
    if pa.types.is_date(t):
        return arr.cast(pa.int32()).to_pylist()
    if pa.types.is_decimal(t):
        return [None if v is None else str(v) for v in arr.to_pylist()]
    if pa.types.is_binary(t):
        return [None if v is None else v.hex() for v in arr.to_pylist()]
    return arr.to_pylist()


def read_rows(path, columns):
    """Rows of a parquet file or directory as tuples in ``columns`` order."""
    table = pq.read_table(path)
    cols = [_plain(table.column(c).combine_chunks()) for c in columns]
    return list(zip(*cols)) if cols else []


class EtlModel:
    """The replay's expected target state, kept per table as
    ``{key: [rows]}``.

    A batch names tables; an ownership row also names ``farmparcel``
    (the cascade). For each named table the incoming rows are the
    source rows whose key the batch names (``farmparcel``: the parcels
    the named farmers own in the source ownership table), with the
    catalog's string columns upper-cased. Every key that has incoming
    rows is replaced by exactly those rows; all other rows stay.
    """

    def __init__(self, meta, etl_dir):
        self.specs = meta["tables"]
        self.columns = {t: [f["name"] for f in s["schema"]["fields"]]
                        for t, s in self.specs.items()}
        self.source = {}
        self.target = {}
        for t in self.specs:
            k = self.columns[t].index(self.specs[t]["key"])
            self.source[t] = self._by_key(
                read_rows(os.path.join(etl_dir, "src", f"{t}.parquet"), self.columns[t]), k)
            self.target[t] = self._by_key(
                read_rows(os.path.join(etl_dir, "target0", f"{t}.parquet"), self.columns[t]), k)
        own = self.columns["farmparcelownership"]
        self.parcels_of = collections.defaultdict(set)
        for rows in self.source["farmparcelownership"].values():
            for r in rows:
                self.parcels_of[r[own.index("rsbsa_no")]].add(r[own.index("parcel_id")])

    @staticmethod
    def _by_key(rows, k):
        out = collections.defaultdict(list)
        for r in rows:
            out[r[k]].append(r)
        return out

    def _upper(self, table, rows):
        cols = self.columns[table]
        up = {i for i, c in enumerate(cols) if c in self.specs[table]["upper"]}
        strings = {f["name"] for f in self.specs[table]["schema"]["fields"]
                   if f["type"] == "string"}
        up = {i for i in up if cols[i] in strings}
        return [tuple(v.upper() if i in up and v is not None else v
                      for i, v in enumerate(r)) for r in rows]

    def apply(self, batch_path):
        """Applies one batch; returns (total, skipped, {table: extracted})."""
        log = read_rows(batch_path, ["log_id", "rsbsa_no", "table"])
        valid = [(k, t) for _, k, t in log if k is not None and t is not None]
        keys = collections.defaultdict(set)
        for k, t in valid:
            keys[t].add(k)
        if "farmparcelownership" in keys:
            keys["farmparcel"] |= keys["farmparcelownership"]
        extracted = {}
        for t, named in keys.items():
            if t == "farmparcel":
                wanted = set().union(*(self.parcels_of.get(k, set()) for k in named))
            else:
                wanted = named
            incoming = {k: self._upper(t, self.source[t][k])
                        for k in wanted if self.source[t].get(k)}
            extracted[t] = sum(len(v) for v in incoming.values())
            self.target[t].update(incoming)
        return len(log), len(log) - len(valid), extracted

    def compare(self, snap_dir):
        """Problems found comparing a published snapshot with the state."""
        problems = []
        for t in sorted(self.specs):
            got = read_rows(os.path.join(snap_dir, f"{t}.parquet"), self.columns[t])
            want = [r for rows in self.target[t].values() for r in rows]
            if collections.Counter(got) != collections.Counter(want):
                extra = collections.Counter(got) - collections.Counter(want)
                missing = collections.Counter(want) - collections.Counter(got)
                sample = next(iter(extra or missing))
                problems.append(f"{t}: {sum(extra.values())} unexpected and "
                                f"{sum(missing.values())} missing rows, e.g. {sample!r:.200}")
            if self.specs[t]["one_to_one"]:
                k = self.columns[t].index(self.specs[t]["key"])
                dup = [key for key, n in collections.Counter(r[k] for r in got).items() if n > 1]
                if dup:
                    problems.append(f"{t}: {len(dup)} keys with more than one row")
        return problems


def check_etl(meta, etl_dir, ops):
    """Marks each replayed batch ``ok`` or lists its problems, in order.

    ``ops`` are the timed batches as the JVM reported them; the model is
    first advanced over the warm-up batch ``b000``.
    """
    model = EtlModel(meta, etl_dir)
    batches = os.path.join(etl_dir, "batches")
    model.apply(os.path.join(batches, "b000.parquet"))
    results = []
    for op in ops:
        total, skipped, extracted = model.apply(os.path.join(batches, op["batch"] + ".parquet"))
        problems = []
        if op.get("error") or op.get("table_errors"):
            problems.append(f"run failed: {op.get('error') or op.get('table_errors')}")
        else:
            if op["total"] != total:
                problems.append(f"totalLogRecords {op['total']} != {total}")
            if op["skipped"] != skipped:
                problems.append(f"skipped {op['skipped']} != {skipped}")
            if op["extracted"] != extracted:
                problems.append(f"extracted {op['extracted']} != {extracted}")
            problems += model.compare(os.path.join(etl_dir, "snap", op["batch"]))
        results.append(problems)
    return results


# ------------------------------------------------------- query oracles

@functools.lru_cache(maxsize=None)
def _tools():
    """The repository's ``tools/check.py``, whose canonical form and value
    comparison the query checks share."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check.py")
    spec = importlib.util.spec_from_file_location("repo_tools_check", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def canon(cursor):
    """(sorted column names, sorted rows) of a DuckDB result."""
    return _tools().canon(cursor.fetchall(), [d[0] for d in cursor.description])


def compare(got, want):
    """None when two canonical results agree, else what differs."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b and not all(_tools().values_eq(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a!r:.200} != oracle {b!r:.200}"
    return None


#: Queries whose registered oracle reads a golden file pinned to one
#: fixed dataset; on generated data they are checked by properties the
#: documents table fixes instead (every document yields frames).
PROPERTY_SQL = {
    "media_frames": """
        SELECT count(*) > 0
           AND bool_and(m.frame_len > 0 AND m.frame_no >= 0)
           AND count(DISTINCT m.media_id) = (SELECT count(*) FROM documents)
        FROM got m JOIN documents d ON d.doc_id = m.media_id""",
}


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    return con


def oracle_answers(meta, data_dir, names, cache_path, recompute=False):
    """Canonical DuckDB answers for ``names``, cached in ``cache_path``
    and keyed by the oracle SQL, so a changed oracle is recomputed."""
    cache = {}
    if os.path.exists(cache_path) and not recompute:
        with open(cache_path, "rb") as f:
            cache = pickle.load(f)
    con = None
    changed = False
    for name in names:
        sql = meta["oracle"].get(name)
        if sql is None or name in PROPERTY_SQL or cache.get(name, (None,))[0] == sql:
            continue
        con = con or connect(data_dir)
        cache[name] = (sql, canon(con.execute(sql)))
        changed = True
    if changed:
        with open(cache_path, "wb") as f:
            pickle.dump(cache, f)
    return {n: a for n, (_, a) in cache.items() if n in names}


def check_queries(meta, data_dir, out_dir, names, answers):
    """{name: problem or None} for each query's dumped result."""
    con = connect(data_dir)
    results = {}
    for name in names:
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            results[name] = "no result written"
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        if name in PROPERTY_SQL:
            con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM "
                        f"read_parquet('{path}/*.parquet')")
            ok = con.execute(PROPERTY_SQL[name]).fetchone()[0]
            results[name] = None if ok else "property check failed"
        elif name in answers:
            results[name] = compare(canon(got), answers[name])
        else:
            results[name] = "no oracle"
    return results
