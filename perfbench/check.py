"""Correctness checks made apart from the program, with DuckDB over the same
generated files. Each check returns None when it passes, else a reason.

  * oracle checks: the program's declared DuckDB oracle SQL, run over the
    source corpus, against the operation's first result;
  * copy checks: row counts per table against the source, order-independent
    content checksums of every published copy after the run, the
    incremental copy's initial + appended = final with no duplicate key,
    and the Derby key/index set read back through plain JDBC metadata;
  * dedup property check for the IVF sweep, which has no oracle: recall
    never falls as nProbe grows and is 1.0 with every list probed;
  * ingest: DuckDB's replay of the same batches and DML.

Oracle answers depend only on the corpus, so they are cached per corpus.
"""
import glob
import hashlib
import json
import math
import os
import decimal

import duckdb


def connect(corpus, tmp):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for p in sorted(glob.glob(os.path.join(corpus, "*.parquet"))):
        t = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def sort_key(row):
    def k(v):
        if v is None:
            return (2, "")
        if isinstance(v, bool):
            return (1, str(v))
        if isinstance(v, (int, float)):
            return (0, float(v))
        return (1, str(v))
    return tuple(k(v) for v in row)


def same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
    return a == b


def compare(dump, cols, rows):
    """Columns matched by name (sorted), rows as multisets."""
    if sorted(dump["columns"]) != sorted(cols):
        return f"columns differ: program={sorted(dump['columns'])} oracle={sorted(cols)}"
    order = sorted(cols)
    pi = [dump["columns"].index(c) for c in order]
    oi = [cols.index(c) for c in order]
    a = sorted((tuple(norm(r[i]) for i in pi) for r in dump["rows"]), key=sort_key)
    b = sorted((tuple(norm(r[i]) for i in oi) for r in rows), key=sort_key)
    if len(a) != len(b):
        return f"row count program={len(a)} oracle={len(b)}"
    for x, y in zip(a, b):
        if len(x) != len(y) or not all(same(p, q) for p, q in zip(x, y)):
            return f"first differing row: program={x} oracle={y}"
    return None


class Checker:
    def __init__(self, corpus, cache_dir, work, report):
        self.corpus, self.work, self.report = corpus, work, report
        self.con = connect(corpus, os.path.join(work, "tmp"))
        self.cache = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def dump(self, op):
        p = os.path.join(self.work, "dumps", f"{op}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def oracle(self, sql):
        key = hashlib.sha256(sql.encode()).hexdigest()[:20]
        p = os.path.join(self.cache, f"{key}.json")
        if os.path.exists(p):
            with open(p) as f:
                d = json.load(f)
            return d["columns"], d["rows"]
        cur = self.con.execute(sql)
        cols = [c[0] for c in cur.description]
        rows = [[norm(v) for v in r] for r in cur.fetchall()]
        with open(p + ".tmp", "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
        os.replace(p + ".tmp", p)
        return cols, rows

    def scalar(self, sql):
        return self.con.execute(sql).fetchone()

    def kv(self, op):
        d = self.dump(op)
        return None if d is None else {r[0]: r[1] for r in d["rows"]}

    # ------------------------------------------------------------------ all
    def run(self):
        """{op name: reason} for every operation whose output is wrong."""
        bad = {}
        names = [o["name"] for o in self.report["ops"]]
        for n in names:
            if self.dump(n) is None:
                bad[n] = "no result: " + self.report["errors"].get(n, "never returned")
        for n, sql in self.report["oracle_sql"].items():
            if n in bad:
                continue
            try:
                why = compare(self.dump(n), *self.oracle(sql))
            except Exception as e:  # a result the oracle cannot be run or read against
                why = f"{type(e).__name__}: {e}"
            if why:
                bad[n] = "oracle: " + why
        w = self.report["workload"]
        try:
            extra = {"copy": self.copy, "dedup": self.dedup, "ingest": self.ingest}[w]()
        except Exception as e:
            extra = {n: f"check error: {type(e).__name__}: {e}" for n in names}
        for n, why in extra.items():
            if why and n not in bad:
                bad[n] = why
        return bad

    # ----------------------------------------------------------------- copy
    def checksum(self, rel):
        """(rows, order-independent content hash) of a relation: a view, a
        parenthesised query or a read_parquet(...)"""
        try:
            cols = [c[0] for c in self.con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
        except duckdb.IOException as e:  # nothing published there
            return None, str(e)
        expr = " || '|' || ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '~')" for c in cols)
        n, h = self.scalar(f"SELECT count(*), sum(hash({expr})) FROM {rel}")
        return n, int(h or 0)

    @staticmethod
    def published(root, table):
        return f"read_parquet('{os.path.join(root, table + '.parquet', '*.parquet')}')"

    def copy(self):
        out = {}
        d = self.report["copy_dirs"]
        tables = sorted(os.path.basename(p)[:-8] for p in glob.glob(os.path.join(self.corpus, "*.parquet")))
        counts = {t: self.scalar(f"SELECT count(*) FROM {t}")[0] for t in tables}
        sums = {t: self.checksum(t) for t in tables}
        kv = self.kv("copy_tables")
        if kv is not None and kv != counts:
            out["copy_tables"] = f"row counts {kv} != source {counts}"
        for t in tables:
            got = self.checksum(self.published(d["pub"], t))
            if got != sums[t]:
                out.setdefault("copy_tables", f"{t}: published (rows, checksum) {got} != source {sums[t]}")
        kv = self.kv("copy_projected")
        want = self.scalar("SELECT count(*) FROM orders WHERE o_orderstatus = 'O'")[0]
        if kv is not None:
            got = self.checksum(self.published(d["proj"], "orders_open"))
            proj_sum = self.checksum("(SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus "
                                     "FROM orders WHERE o_orderstatus = 'O')")
            if kv != {"orders_open": want} or got != proj_sum:
                out["copy_projected"] = f"projected copy {kv} / {got} != {want} / {proj_sum}"
        kv = self.kv("copy_incremental")
        if kv is not None:
            k = self.scalar("SELECT max(o_orderkey) FROM orders")[0] // 2
            init = self.scalar(f"SELECT count(*) FROM orders WHERE o_orderkey <= {k}")[0]
            fin = counts["orders"]
            landed = self.published(d["incr"], "orders")
            n, nd = self.scalar(f"SELECT count(*), count(DISTINCT o_orderkey) FROM {landed}")
            if (kv.get("watermark") != k or kv.get("initial") != init
                    or kv.get("initial", 0) + kv.get("incremental", 0) != fin or n != fin or nd != fin
                    or self.checksum(landed) != sums["orders"]):
                out["copy_incremental"] = (f"incremental {kv}, landed {n} rows / {nd} keys; "
                                           f"want watermark {k}, initial {init}, final {fin}")
        keys = self.report["jdbc_keys"]
        dims = sorted(keys)
        want_idx = {}
        for t, spec in keys.items():
            want_idx[f"{t}:pk:{spec['pk']}"] = 1
            want_idx[f"{t}:idx:{spec['pk']}"] = 1  # the key's own unique index
            for i in spec["idx"]:
                want_idx[f"{t}:idx:{i['col']}"] = 1 if i["unique"] else 0
        for op in ("jdbc_load", "jdbc_copy", "jdbc_unload"):
            kv = self.kv(op)
            if kv is None:
                continue
            rows = {t: kv.get(t) for t in dims}
            if rows != {t: counts[t] for t in dims}:
                out[op] = f"row counts {rows} != source"
            if op != "jdbc_unload":
                idx = {k: v for k, v in kv.items() if ":" in k}
                if idx != want_idx:
                    out[op] = f"key/index set {sorted(idx.items())} != {sorted(want_idx.items())}"
        for t in dims:
            got = self.checksum(self.published(d["back"], t))
            if got != sums[t]:
                out.setdefault("jdbc_unload", f"{t}: Derby round trip {got} != source {sums[t]}")
        return out

    # ---------------------------------------------------------------- dedup
    def dedup(self):
        out = {}
        d = self.dump("ivf_nprobe_sweep")
        if d is not None:
            c = d["columns"]
            rows = sorted((dict(zip(c, r)) for r in d["rows"]), key=lambda r: r["n_probe"])
            rec = [r["mean_recall"] for r in rows]
            if any(b < a for a, b in zip(rec, rec[1:])) or not rows or rows[-1]["n_probe"] != 8 \
                    or rec[-1] != 1.0:
                out["ivf_nprobe_sweep"] = f"recall by n_probe {[(r['n_probe'], r['mean_recall']) for r in rows]}"
        return out

    # --------------------------------------------------------------- ingest
    def ingest(self):
        out = {}
        p = self.report["ingest"]
        mods = ", ".join(str(m) for m in p["merge_mods"])
        upd = f"event_id % {p['merge_modulus']} IN ({mods})"
        dele = p["deleted_type"]
        agg = ("count(*) AS n_rows, round(sum(CAST({v} AS DECIMAL(18,2))), 2)::DOUBLE AS sum_value")
        merged = (f"SELECT event_id, event_type, CASE WHEN {upd} THEN value + 1.0 ELSE value END AS value "
                  "FROM events")
        want = {
            "read_asof": f"SELECT event_type, {agg.format(v='value')} FROM events GROUP BY 1",
            "read_latest": (f"SELECT event_type, {agg.format(v='value')} FROM ({merged}) "
                            f"WHERE event_type <> '{dele}' GROUP BY 1"),
            "change_feed": (f"SELECT 'upsert' AS _change_type, {agg.format(v='value + 1.0')} FROM events "
                            f"WHERE {upd} UNION ALL SELECT 'delete', {agg.format(v='value')} "
                            f"FROM ({merged}) WHERE event_type = '{dele}'"),
        }
        for op, sql in want.items():
            d = self.dump(op)
            if d is not None:
                why = compare(d, *self.oracle(sql))
                if why:
                    out[op] = why
        # every write returns a new, higher version
        writes = [f"commit_{i}" for i in range(p["batches"])] + \
                 [f"merge_{m}" for m in p["merge_mods"]] + ["delete_where", "compact"]
        vs = [(self.kv(w) or {}).get("version") for w in writes]
        if None not in vs and any(b <= a for a, b in zip(vs, vs[1:])):
            for w in writes:
                out[w] = f"versions not increasing: {vs}"
        return out
