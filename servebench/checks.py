"""Answer checks against an independent reference: DuckDB over the same parquet.

Expected results come from the oracle SQL the engine's own correctness gate uses
(`TpcH.oracles`, the curation entries' oracles), run in DuckDB. Nothing here is
derived from the engine under test. Each distinct answer is checked once and
every request that returned it inherits the verdict.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import pickle
import re
from pathlib import Path

import duckdb

from workloads import TENANT_MARKS

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
REL_TOL = 1e-9


def _canon(v, dtype=""):
    """One comparable form for a Spark JSON cell or a DuckDB value."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return v
    if isinstance(v, str) and dtype.startswith("decimal"):
        return decimal.Decimal(v)
    return v


def _close(a, b) -> bool:
    if isinstance(a, (int, float, decimal.Decimal)) and isinstance(b, (int, float, decimal.Decimal)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, (int, decimal.Decimal)) and isinstance(b, (int, decimal.Decimal)):
            return a == b
        a, b = float(a), float(b)
        return a == b or math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
            return (1, f"{float(v):.9g}")
        return (2, str(v))
    return [k(v) for v in row]


def same_rows(got, want) -> bool:
    """Multiset equality with a float tolerance."""
    if len(got) != len(want):
        return False
    return all(len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
               for a, b in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)))


class Oracle:
    """DuckDB answers, cached on disk per (SQL text, parquet files): some
    curation oracles take tens of seconds, and a run must not pay them again.
    """

    def __init__(self, data_dir: Path, catalog: dict, cache_dir: Path):
        self.catalog = catalog
        self.cache_dir = cache_dir
        self.con = None
        self.files = [data_dir / f"{t}.parquet" for t in TABLES if (data_dir / f"{t}.parquet").exists()]
        self.data_key = json.dumps([(str(p), p.stat().st_size, p.stat().st_mtime_ns) for p in self.files])
        self._memo = {}

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute("SET enable_progress_bar = false")
            for p in self.files:
                self.con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        return self.con

    def _run(self, sql):
        if sql in self._memo:
            return self._memo[sql]
        path = self.cache_dir / (hashlib.sha256((self.data_key + sql).encode()).hexdigest() + ".pkl")
        if path.exists():
            res = pickle.loads(path.read_bytes())
        else:
            cur = self._connect().execute(sql)
            cols = [d[0] for d in cur.description]
            res = (cols, [[_canon(v) for v in r] for r in cur.fetchall()])
            self.cache_dir.mkdir(parents=True, exist_ok=True)
            tmp = path.with_suffix(f".{os.getpid()}.tmp")
            tmp.write_bytes(pickle.dumps(res))
            tmp.replace(path)
        self._memo[sql] = res
        return res

    def prepare(self, entries):
        """Answer every oracle up front (cached after the first run)."""
        for sql in self.catalog["tpch_oracle"].values():
            self._run(sql)
        for e in entries:
            self._run(self._count_sql(e))

    def _count_sql(self, entry):
        return f"SELECT count(*) FROM ({self.catalog['entry_oracle'][entry]})"

    def check_query(self, body: str, query: str):
        """A v3 /query body: same columns and rows as the TPC-H oracle."""
        doc = json.loads(body)
        cols, want = self._run(self.catalog["tpch_oracle"][query])
        if doc.get("columns") != cols:
            return f"columns {doc.get('columns')} != {cols}"
        dtypes = [doc["dtypes"][c] for c in cols]
        got = [[_canon(v, t) for v, t in zip(r, dtypes)] for r in doc["data"]]
        return None if same_rows(got, want) else f"rows differ ({len(got)} vs {len(want)})"

    def check_dry_plan(self, sql: str, tenant: int, query: str):
        """A /dry-plan duckdb body: carries its own tenant's row-level predicate and
        no other tenant's, and runs in DuckDB to the TPC-H oracle's answer (the
        rule keeps every row).
        """
        touches = re.search(r"\blineitem\b", self.catalog["tpch_sql"][query]) is not None
        if touches and str(TENANT_MARKS[tenant]) not in sql:
            return f"tenant {tenant}'s predicate missing"
        leaked = [k for k, m in enumerate(TENANT_MARKS) if k != tenant and str(m) in sql]
        if leaked:
            return f"carries the predicate of tenant(s) {leaked}"
        try:
            got_cols, got = self._run(sql)
        except duckdb.Error as e:
            return f"duckdb rejects the planned SQL: {str(e)[:200]}"
        cols, want = self._run(self.catalog["tpch_oracle"][query])
        if [c.lower() for c in got_cols] != [c.lower() for c in cols]:
            return f"columns {got_cols} != {cols}"
        return None if same_rows(got, want) else f"rows differ ({len(got)} vs {len(want)})"

    def check_entry(self, rows: str, entry: str):
        """A curation entry's observed row count against its oracle's."""
        (n,), = self._run(self._count_sql(entry))[1]
        return None if rows == str(n) else f"{rows} rows, oracle has {n}"

    def check(self, req: dict, body: str):
        if req["route"] == "query":
            return self.check_query(body, req["query"])
        if req["route"] == "dry-plan":
            return self.check_dry_plan(body, req["tenant"], req["query"])
        return self.check_entry(body, req["entry"])
