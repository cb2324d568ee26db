"""Output checks for the benchmark's calls.

The JVM dumps the first result of every call key (rows in canonical
form, columns in name order) and compares every later call of the key
with that first one. This module checks each first result against:

- ``oracle:<name>``: a DuckDB query over the same inputs — a registered
  lane's gate oracle, or one written here for the seeded inputs;
- ``literal``: rows the generator knows in advance;
- ``fingerprint``: the digest recorded from the seed commit for a call
  whose inputs do not depend on the seed (a regression check, not an
  independent oracle).
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

import gen

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

OUT_COLS = ("event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, "
            "props")


def merge_sql(split, seed, mod):
    """``Scd1.merge`` of the seeded change batch into the pre-split events
    (the gate's ``scd1_merge_events`` oracle with seeded sides)."""
    return (
        f"WITH tgt AS (SELECT * FROM events WHERE ts < TIMESTAMP '{split}'), "
        f"src AS (SELECT * FROM events WHERE ts >= TIMESTAMP '{split}' "
        f"AND (event_id * 7919 + {seed}) % {mod} < 3 "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id "
        "ORDER BY epoch_us(ts) DESC, event_id DESC) = 1) "
        f"SELECT {OUT_COLS} FROM tgt "
        "WHERE user_id NOT IN (SELECT user_id FROM src) "
        f"UNION ALL SELECT {OUT_COLS} FROM src")


EXEC_SCRIPT_SQL = (
    "WITH latest AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "QUALIFY row_number() OVER (PARTITION BY o_custkey "
    "ORDER BY o_orderdate DESC, o_orderkey DESC) = 1) "
    "SELECT c.c_nationkey, count(*) AS n_customers, "
    "sum(l.o_totalprice) AS latest_total FROM latest l "
    "JOIN customer c ON l.o_custkey = c.c_custkey GROUP BY c.c_nationkey")


def near_dup_sql(lane_sql):
    """Multi-batch replay of ``nearDupStream``: each document probes the
    index of all strictly earlier batches, with the lane's ≤ 64-member
    bucket bound counted over that index. Built from the two-batch gate
    oracle (``dedup_incremental_minhash_documents``), whose MinHash
    pipeline and exact-Jaccard tail are reused verbatim."""
    head = lane_sql[:lane_sql.index("cb AS (")]
    tail = lane_sql[lane_sql.index("jp AS ("):]
    mid = (
        "bb AS (SELECT bands.*, nb.batch FROM bands "
        "JOIN batches nb USING (doc_id)), "
        "bn AS (SELECT band_idx, band_hash, batch, count(*) AS n FROM bb "
        "GROUP BY 1, 2, 3), "
        "qk AS (SELECT DISTINCT band_idx, band_hash, batch FROM bb), "
        "sz AS (SELECT qk.band_idx, qk.band_hash, qk.batch, "
        "sum(bn.n) AS before FROM qk JOIN bn ON bn.band_idx = qk.band_idx "
        "AND bn.band_hash = qk.band_hash AND bn.batch < qk.batch "
        "GROUP BY 1, 2, 3), "
        "cand AS (SELECT DISTINCT q.doc_id AS batch_id, c.doc_id AS dup_of "
        "FROM bb q JOIN sz ON sz.band_idx = q.band_idx "
        "AND sz.band_hash = q.band_hash AND sz.batch = q.batch "
        "AND sz.before <= 64 "
        "JOIN bb c ON c.band_idx = q.band_idx AND c.band_hash = q.band_hash "
        "AND c.batch < q.batch), ")
    return head + mid + tail


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) \
            else v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    if isinstance(v, bytes):
        return v.hex()
    return v


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, bool):
            return (1, str(v))
        if isinstance(v, (int, float)):
            if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
                return (2, str(v))
            return (3, f"{float(v):.6e}")
        return (4, json.dumps(v, sort_keys=True))
    return tuple(k(v) for v in row)


def _close(a, b):
    if isinstance(a, str) and isinstance(b, float):
        a, b = b, a
    if isinstance(a, float) and isinstance(b, str):
        # the JVM writes non-finite doubles as strings
        return str(a).lower().replace("inf", "infinity") == b.lower() \
            or (math.isnan(a) and b == "NaN")
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    return a == b


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal (columns by name, rows as a multiset, floats to
    1e-9 relative), else a one-line reason."""
    order = sorted(range(len(exp_cols)), key=lambda i: exp_cols[i])
    exp_cols = [exp_cols[i] for i in order]
    exp_rows = [[_norm(r[i]) for i in order] for r in exp_rows]
    if list(got_cols) != exp_cols:
        return f"columns {list(got_cols)} != expected {exp_cols}"
    if len(got_rows) != len(exp_rows):
        return f"{len(got_rows)} rows != expected {len(exp_rows)}"
    got = sorted(got_rows, key=_sort_key)
    exp = sorted(exp_rows, key=_sort_key)
    for i, (g, e) in enumerate(zip(got, exp)):
        if not all(_close(x, y) for x, y in zip(g, e)):
            return f"row {i} differs: {g!r} != expected {e!r}"
    return None


def fingerprint(rows):
    """Digest of a dumped result that is stable across runs of the same
    code: rows in canonical order, floats to 12 significant digits."""
    def f(v):
        if isinstance(v, float):
            return float(f"{v:.12g}")
        if isinstance(v, list):
            return [f(x) for x in v]
        if isinstance(v, dict):
            return {k: f(x) for k, x in v.items()}
        return v
    lines = sorted(json.dumps(f(r), sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def record_fingerprint(key, stamp, rows):
    fps = {}
    if os.path.exists(FINGERPRINTS):
        with open(FINGERPRINTS) as f:
            fps = json.load(f)
    fps[key] = {"stamp": stamp, "rows": len(rows),
                "sha256": fingerprint(rows)}
    with open(FINGERPRINTS, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
        f.write("\n")


class Checker:
    def __init__(self, sf_dir, gen_dir, cache_dir, oracle_sql):
        self.sf_dir = sf_dir
        self.gen_dir = gen_dir
        self.cache_dir = cache_dir
        self.oracle_sql = oracle_sql
        self.stamp = gen.data_stamp(sf_dir)
        with open(os.path.join(gen_dir, "manifest.json")) as f:
            self.manifest = json.load(f)

    def _duck(self, events_dir=None):
        con = duckdb.connect()
        for t in TABLES:
            src = self.sf_dir
            if t == "events" and events_dir:
                src = events_dir
            p = os.path.join(src, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{p}')")
        b = os.path.join(self.gen_dir, "batches.parquet")
        if os.path.exists(b):
            con.execute("CREATE VIEW batches AS SELECT * FROM "
                        f"read_parquet('{b}')")
        return con

    def _query(self, sql, events_dir=None, seeded=False):
        """(columns, rows) of an oracle query, cached on disk by the
        query, the source stamp and (for seeded inputs) the input set."""
        scope = self.gen_dir if seeded or events_dir else ""
        key = hashlib.sha256(
            f"{sql}\n{self.stamp}\n{scope}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                d = json.load(f)
            return d["columns"], d["rows"]
        con = self._duck(events_dir)
        cur = con.execute(sql)
        cols = [c[0] for c in cur.description]
        rows = [[_norm(v) for v in r] for r in cur.fetchall()]
        con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
        os.replace(path + ".tmp", path)
        return cols, rows

    def expected(self, key, check):
        """(columns, rows) expected of a call, or a fingerprint string."""
        if check == "literal":
            return gen.discovery_expected(self.gen_dir)[key]
        if check == "fingerprint":
            with open(FINGERPRINTS) as f:
                fps = json.load(f)
            entry = fps.get(key)
            if entry is None or entry.get("stamp") != self.stamp:
                raise KeyError(f"no fingerprint of {key} recorded for "
                               f"source stamp {self.stamp}")
            return entry["sha256"]
        name = check.split(":", 1)[1]
        if name == "merge":
            m = self.manifest
            return self._query(merge_sql(m["split"], m["seed"],
                                         m["merge_mod"]), seeded=True)
        if name == "exec.script":
            return self._query(EXEC_SCRIPT_SQL)
        if name == "near_dup_batches":
            return self._query(near_dup_sql(
                self.oracle_sql["dedup_incremental_minhash_documents"]),
                seeded=True)
        sql = self.oracle_sql[name]
        if name in ("dq_file_events", "orch_ingestion_agg_events"):
            # the lane's oracle, over the staged events slice
            return self._query(sql, events_dir=os.path.join(self.gen_dir,
                                                            "slice"))
        return self._query(sql)

    def check(self, key, check, dump_path):
        """None when the dumped first result of `key` is correct."""
        try:
            with open(dump_path) as f:
                d = json.load(f)
        except (OSError, ValueError) as e:
            return f"no readable result dump: {e}"
        try:
            exp = self.expected(key, check)
        except Exception as e:  # an oracle that cannot run is a failure
            return f"expected result unavailable: {type(e).__name__}: {e}"
        if isinstance(exp, str):
            got = fingerprint(d["rows"])
            return None if got == exp else \
                f"regression fingerprint {got[:12]} != recorded {exp[:12]}"
        return compare(d["columns"], d["rows"], exp[0], exp[1])
