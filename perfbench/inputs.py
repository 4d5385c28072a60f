"""Seeded benchmark inputs, derived only from the read-only fixtures.

Each generator writes one fixture directory for a seed and returns the
input properties the engine's behaviour depends on. The same seed gives
byte-identical inputs; outputs are cached per seed by the caller.

- olap: every table of a scale-factor fixture, rows in seeded order and
  order keys shifted by a seeded multiple of 20 (so the modulo splits
  some queries take keep their proportions). One parquet file with one
  row group per table, the layout of the real fixtures.
- curate: documents and embeddings scaled by a copy multiplier as in
  the repository's scale tooling: copy k > 0 of a document suffixes
  every token with a copy-unique marker, so near-duplicates stay inside
  a copy; copy k > 0 of a vector is a signed rotation of its
  coordinates. All tables are written in seeded row order.
- corpus: raw .txt files whose lines are fixture documents; about half
  of the lines keep the fixture's small hot vocabulary, the rest carry
  a token suffix drawn from a heavy-tailed distribution (a long tail).
"""
import os
import re
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def fixture_root(repo):
    """The fixture root that TESTDATA.md documents (`<root>/sf0.1/`)."""
    with open(os.path.join(repo, "TESTDATA.md")) as f:
        m = re.search(r"`([^`]+)/sf0\.1/?`", f.read())
    if not m:
        raise RuntimeError("TESTDATA.md names no sf0.1 fixture directory")
    return m.group(1)


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _write(table, path):
    # one row group per file, as in the fixtures
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _permuted(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _shift(table, col, by):
    i = table.schema.get_field_index(col)
    shifted = pa.compute.add(table.column(col), pa.scalar(by, table.schema.field(col).type))
    return table.set_column(i, table.schema.field(col), shifted)


def olap(src, out, seed):
    rng = np.random.default_rng(seed)
    shift = 20 * (1 + seed % 9973)
    for t in TABLES:
        table = _permuted(pq.read_table(f"{src}/{t}.parquet"), rng)
        if t == "orders":
            table = _shift(table, "o_orderkey", shift)
        elif t == "lineitem":
            table = _shift(table, "l_orderkey", shift)
        _write(table, f"{out}/{t}.parquet")
    return _properties(out, hot=("lineitem", "l_partkey"))


def copy_suffix(k):
    """Copy-unique token marker: "zz" + two base-26 letters, k in 1..676."""
    k = (k - 1) % 676
    return "zz" + chr(ord("a") + k // 26) + chr(ord("a") + k % 26)


def curate(src, out, seed, copies, limit=None):
    """limit keeps only the first documents and vectors of the source."""
    rng = np.random.default_rng(seed)
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            _write(_permuted(pq.read_table(f"{src}/{t}.parquet"), rng), f"{out}/{t}.parquet")
    # the suffix set and the vector transforms start at a seeded offset
    offset = seed % 600

    docs = pq.read_table(f"{src}/documents.parquet")
    rows = docs.to_pylist()[:limit]
    shift = max(r["doc_id"] for r in rows) + 1
    scaled = []
    for k in range(copies):
        suf = copy_suffix(k + offset) if k else ""
        for r in rows:
            text = r["text"] if k == 0 else re.sub(
                r"[a-zA-Z]+", lambda m: m.group(0) + suf, r["text"])
            scaled.append({**r, "doc_id": r["doc_id"] + k * shift, "text": text,
                           "n_chars": len(text)})
    table = pa.Table.from_pylist(scaled, schema=docs.schema)
    _write(_permuted(table, rng), f"{out}/documents.parquet")

    emb = pq.read_table(f"{src}/embeddings.parquet")
    rows = emb.to_pylist()[:limit]
    shift = max(r["vec_id"] for r in rows) + 1
    dim = len(rows[0]["embedding"])

    def transform(v, k):
        # signed rotation: a norm-preserving index shuffle, no float math
        rot = k % dim
        w = [v[(j + rot) % dim] for j in range(dim)]
        return [-x for x in w] if (k // dim) % 2 else w

    scaled = []
    for k in range(copies):
        kk = 0 if k == 0 else 1 + (k - 1 + offset) % (2 * dim - 1)
        for r in rows:
            scaled.append({**r, "vec_id": r["vec_id"] + k * shift,
                           "embedding": transform(r["embedding"], kk)})
    table = pa.Table.from_pylist(scaled, schema=emb.schema)
    _write(_permuted(table, rng), f"{out}/embeddings.parquet")
    props = _properties(out, hot=None)
    props["vocabulary"], props["hottest_token_share"] = connect().execute(f"""
        SELECT count(*), round(max(c) / sum(c), 6) FROM (SELECT w, count(*) AS c FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM read_parquet('{out}/documents.parquet')) GROUP BY w)""").fetchone()
    return props


def corpus(src, out, seed, megabytes, files):
    rnd = random.Random(seed)
    texts = pq.read_table(f"{src}/documents.parquet", columns=["text"]).column(0).to_pylist()
    target = megabytes * 1024 * 1024
    per_file = target // files
    written = 0
    for i in range(files):
        lines, size = [], 0
        while size < per_file:
            text = rnd.choice(texts)
            if rnd.random() >= 0.5:
                # long tail: suffix k with P(k) ~ 1/k^2
                k = min(676, int(rnd.paretovariate(1.0)))
                text = re.sub(r"[a-zA-Z]+", lambda m: m.group(0) + copy_suffix(k), text)
            lines.append(text)
            size += len(text) + 1
        with open(f"{out}/part{i:04d}.txt", "w") as f:
            f.write("\n".join(lines) + "\n")
        written += size
    words = connect().execute(f"""
        SELECT sum(c) AS tokens, count(*) AS vocabulary, max(c) / sum(c)
        FROM (SELECT w, count(*) AS c FROM (
              SELECT unnest(regexp_extract_all(lower(content), '[a-z]+')) AS w
              FROM read_text('{out}/*.txt')) GROUP BY w)""").fetchone()
    return {"files": files, "bytes": written, "tokens": words[0],
            "vocabulary": words[1], "hottest_token_share": round(words[2], 6)}


def _properties(d, hot):
    props = {}
    for t in TABLES:
        meta = pq.ParquetFile(f"{d}/{t}.parquet").metadata
        props[t] = {"rows": meta.num_rows, "scan_units": meta.num_row_groups,
                    "bytes": os.path.getsize(f"{d}/{t}.parquet")}
    if hot:
        table, col = hot
        share = connect().execute(
            f"SELECT max(c) / sum(c) FROM (SELECT count(*) AS c FROM "
            f"read_parquet('{d}/{table}.parquet') GROUP BY {col})").fetchone()[0]
        props["hottest_key_share"] = {f"{table}.{col}": round(share, 6)}
    return props
