"""Output checks against DuckDB oracles.

Registry queries are compared with their oracle SQL under the rules of
the repository's differential check (tools/check.py): matching type
families, the same column names and row count, and equal values after
sorting rows by every column (floats compared exactly, NaN equal to
NaN, everything else by its string form). The MapReduce jobs' text
output is compared with word counts and posting lists that DuckDB
computes from the raw corpus. Oracle answers are cached per input
directory, so a seed pays for them once.
"""
import math
import os
import pickle
import hashlib

from inputs import TABLES, connect


def _connect(fixture):
    con = connect()
    if fixture:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    return con


def _family(t):
    t = t.upper()
    if t in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "float"
    return t


def _canon(rows):
    return sorted(rows, key=lambda row: tuple((v is None, str(v)) for v in row))


def _equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return str(a) == str(b)


class Oracle:
    def __init__(self, fixture, cache_dir):
        self.fixture = fixture
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self._con = None

    def con(self):
        if self._con is None:
            self._con = _connect(self.fixture)
        return self._con

    def _cached(self, key, compute):
        path = os.path.join(self.cache_dir, hashlib.sha256(key.encode()).hexdigest()[:24] + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        value = compute()
        with open(path + ".tmp", "wb") as f:
            pickle.dump(value, f)
        os.replace(path + ".tmp", path)
        return value

    def answer(self, sql):
        def compute():
            cur = self.con().execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            types = {c: t for c, t, *_ in self.con().execute("DESCRIBE " + sql).fetchall()}
            return cols, types, rows
        return self._cached(sql, compute)

    def check_query(self, sql, out_dir):
        """None when the parquet result in out_dir matches the oracle, else why not."""
        exp_cols, exp_types, exp_rows = self.answer(sql)
        con = _connect(None)
        src = f"read_parquet('{out_dir}/*.parquet')"
        got = con.execute(f"SELECT * FROM {src}")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        got_types = {c: t for c, t, *_ in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()}
        bad = [(c, got_types[c], exp_types[c]) for c in got_types
               if c in exp_types and _family(got_types[c]) != _family(exp_types[c])]
        if bad:
            return f"type-family mismatch {bad}"
        if sorted(got_cols) != sorted(exp_cols):
            return f"columns {sorted(got_cols)} != oracle {sorted(exp_cols)}"
        if len(got_rows) != len(exp_rows):
            return f"rows {len(got_rows)} != oracle {len(exp_rows)}"
        names = sorted(got_cols)
        g = _canon([[r[got_cols.index(c)] for c in names] for r in got_rows])
        e = _canon([[r[exp_cols.index(c)] for c in names] for r in exp_rows])
        for n, (gr, er) in enumerate(zip(g, e)):
            diff = [(c, a, b) for c, a, b in zip(names, gr, er) if not _equal(a, b)]
            if diff:
                return f"row {n} differs {diff[:3]}"
        return None

    # --- MapReduce jobs over a raw .txt corpus -----------------------
    def _corpus_answer(self, kind):
        tokens = (f"SELECT parse_filename(filename) AS f, "
                  f"unnest(regexp_extract_all(lower(content), '[a-z]+')) AS w "
                  f"FROM read_text('{self.fixture}/*.txt')")
        if kind == "wordcount":
            sql = f"SELECT w, CAST(count(*) AS VARCHAR) FROM ({tokens}) GROUP BY w"
        else:
            sql = (f"SELECT w, string_agg(f, ',' ORDER BY f) FROM "
                   f"(SELECT DISTINCT w, f FROM ({tokens})) GROUP BY w")
        return self._cached(f"{kind}:{self.fixture}",
                            lambda: dict(_connect(None).execute(sql).fetchall()))

    def check_text(self, kind, out_dir):
        """None when the tab-separated key/value lines in out_dir match."""
        expected = self._corpus_answer(kind)
        got = {}
        for name in sorted(os.listdir(out_dir)):
            if not name.startswith("part-"):
                continue
            with open(os.path.join(out_dir, name), encoding="utf-8") as f:
                for line in f:
                    key, _, value = line.rstrip("\n").partition("\t")
                    if key in got:
                        return f"key {key!r} emitted twice"
                    got[key] = value
        if len(got) != len(expected):
            return f"keys {len(got)} != oracle {len(expected)}"
        for key, value in expected.items():
            if got.get(key) != value:
                return f"key {key!r}: {str(got.get(key))[:80]!r} != oracle {value[:80]!r}"
        return None
