"""Pure helpers of the benchmark: statistics, span self time, the seeded
input generator, result digests for the correctness check, and
provenance. run.py, compare.py and make_reference.py share them; the
tests in perfbench/tests pin them.
"""
import datetime as dt
import hashlib
import json
import math
import statistics
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Provenance fields two records must share before they are compared.
# The commit and the seed are what a comparison varies, so they are
# recorded but not required to match.
COMPARABLE = ("nproc", "local_n", "driver_heap", "jit_flags", "spark", "jdk",
              "sf", "workload", "keys_sha256")


# ---------------------------------------------------------------- stats

def tail(samples, beyond=10):
    """The highest percentile that has at least `beyond` samples above
    it: the (n - beyond)-th smallest sample. Returns (value, percentile,
    n); raises ValueError when the sample is too small to have one."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: no percentile has {beyond} beyond it")
    k = n - beyond
    return xs[k - 1], 100.0 * k / n, n


def spread(values):
    """Distance between the first and third quartile, as a share of
    the median (statistics.quantiles' default method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# ---------------------------------------------------------------- spans

def covered(interval, children):
    """Length of the part of `interval` that the union of the
    `children` intervals covers; children may nest, overlap or stick
    out of the parent."""
    lo, hi = interval
    parts = sorted((max(a, lo), min(b, hi)) for a, b in children)
    total, cur_a, cur_b = 0, None, None
    for a, b in parts:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span name: each span's duration minus the part of
    its interval that its direct children cover. `spans` are dicts with
    name, id, parent, start_ns and end_ns."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        iv = (s["start_ns"], s["end_ns"])
        own = (iv[1] - iv[0]) - covered(iv, kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0) + own
    return out


# ------------------------------------------------------------ generator

def permutation(n, seed, name):
    """Row order for table `name` under `seed`: each table gets its own
    stream, so adding a table never reorders another."""
    rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
    return rng.permutation(n)


def permute_table(src, dst, seed, name):
    """Write `src`'s rows to the single file `dst` in the seed's order
    and check that schema and row multiset are unchanged."""
    table = pq.read_table(src)
    perm = permutation(table.num_rows, seed, name)
    pq.write_table(table.take(pa.array(perm)), dst)
    check_permuted(table, pq.read_table(dst), perm)


def check_permuted(original, written, perm):
    """`written` must be `original` with its rows reordered by the
    bijection `perm`: same schema (metadata included) and, after the
    inverse permutation, the same rows."""
    if not written.schema.equals(original.schema, check_metadata=True):
        raise ValueError("permuted table changed its schema")
    if not np.array_equal(np.sort(perm), np.arange(original.num_rows)):
        raise ValueError("row order is not a permutation")
    if not written.take(pa.array(np.argsort(perm))).equals(original):
        raise ValueError("permuted table changed its row multiset")


def generate_input(src_dir, dst_dir, seed):
    """Row-permute every table of `src_dir` into `dst_dir`, one file
    per table, as the program's only input."""
    dst_dir.mkdir(parents=True, exist_ok=True)
    for name in TABLES:
        permute_table(src_dir / f"{name}.parquet",
                      dst_dir / f"{name}.parquet", seed, name)
    found = sorted(p.name for p in dst_dir.iterdir())
    if found != sorted(f"{t}.parquet" for t in TABLES) or \
            not all((dst_dir / f).is_file() for f in found):
        raise ValueError(f"generated input is not one file per table: {found}")


# ---------------------------------------------------------- correctness
# The normalisation rules of scripts/selfcheck.py: sorted column names,
# the type classes the oracle comparison distinguishes, row count, and rows
# sorted after each value is rendered to 10 significant digits.

def duckdb_type_class(t):
    t = str(t).upper()
    if t.endswith("[]"):
        return "LIST<" + duckdb_type_class(t[:-2]) + ">"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("DECIMAL"):
        return "DECIMAL"
    if t.startswith("TIMESTAMP"):
        return "TIMESTAMP"
    return t


def arrow_type_class(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "DECIMAL"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "VARCHAR"
    if pa.types.is_boolean(t):
        return "BOOLEAN"
    if pa.types.is_date(t):
        return "DATE"
    if pa.types.is_timestamp(t):
        return "TIMESTAMP"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "BLOB"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "LIST<" + arrow_type_class(t.value_type) + ">"
    return str(t).upper()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v + 0.0:.10g}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    return str(v)


def digest(columns, type_classes, rows):
    """Order-free fingerprint of a result under the selfcheck rules."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted([norm(r[i]) for i in order] for r in rows)
    return {
        "columns": [columns[i] for i in order],
        "types": [type_classes[i] for i in order],
        "rows": len(normed),
        "sha256": hashlib.sha256(json.dumps(normed).encode()).hexdigest(),
    }


def engine_digest(result_dir):
    """Digest of one result directory written by the harness."""
    files = sorted(Path(result_dir).glob("*.parquet"))
    if not files:
        raise ValueError(f"no parquet result in {result_dir}")
    table = pa.concat_tables([pq.read_table(f) for f in files])
    cols = table.column_names
    types = [arrow_type_class(table.schema.field(c).type) for c in cols]
    data = table.to_pydict()
    rows = list(zip(*[data[c] for c in cols])) if cols else []
    return digest(cols, types, rows)


def mismatch(got, want):
    """Human-readable reason two digests differ, or None."""
    for field in ("columns", "types", "rows", "sha256"):
        if got[field] != want[field]:
            return f"{field}: {got[field]} != {want[field]}"
    return None


def file_sha256(path):
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


# ----------------------------------------------------------- provenance

def keys_sha256(keys):
    return hashlib.sha256(",".join(keys).encode()).hexdigest()


def incomparable(a, b):
    """Provenance fields on which records `a` and `b` differ."""
    return [f for f in COMPARABLE if a.get(f) != b.get(f)]
