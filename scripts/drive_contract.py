"""Drive the driver contract surface exactly as the verify driver does:
import __spark_entry__, smoke entry(spark) at sf0.001, then run every
queries() entry at sf0.01 and hash-compare against oracle_sql() via DuckDB
with the testdata views pre-registered.

Usage: python scripts/drive_contract.py [name ...]   (no names = all)

``compare`` is the engine's one oracle comparator; the test suite's
oracle checks (tests/conftest.py) call it too."""

import collections
import hashlib
import math
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # full-precision repr: the grading driver does NOT round before
        # hashing (round 1 lost 5 queries that passed a 6dp-rounded local
        # compare), so the local gate must be at least as strict
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def _lines(rows, cols):
    """Each row as one normalised line, columns in name order; sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


def value_hash(rows, cols):
    return hashlib.sha256("\n".join(_lines(rows, cols)).encode()).hexdigest()[:16]


# driver-safe result types: anything else (DuckDB HUGEINT→decimal128,
# Spark DecimalType, ...) stringifies differently under a pandas/arrow
# fetch than under fetchall(), so it's a latent driver hash-mismatch
# even when local fetchall() values compare equal.
OK_ARROW = {
    "int8", "int16", "int32", "int64", "float", "double", "bool",
    "string", "large_string", "date32[day]",
}


def bad_arrow_types(schema):
    return [
        (f.name, str(f.type))
        for f in schema
        if str(f.type) not in OK_ARROW
        and not str(f.type).startswith("timestamp")
        and not str(f.type).startswith("list")
    ]


def oracle_con(sf_dir=SF):
    """DuckDB connection with the testdata tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(name, sdf, con, oracle):
    """The contract check of one query: collect the Spark frame ``sdf``,
    run ``oracle`` on ``con``, and require equal row counts, equal column
    sets, equal order-insensitive value hashes and oracle column types
    that ``bad_arrow_types`` accepts. Returns ``(ok, report)``; ``report`` is the lines
    printed for ``name``, with the differing rows on a mismatch."""
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    otbl = con.execute(oracle).arrow()
    orows = [tuple(r.values()) for r in otbl.to_pylist()]
    ocols = otbl.schema.names
    typebad = bad_arrow_types(otbl.schema)
    sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
    ok = (
        len(srows) == len(orows)
        and sorted(scols) == sorted(ocols)
        and sh == oh
        and not typebad
    )
    report = [f"TYPE-HAZARD {name}: oracle columns {typebad}"] if typebad else []
    report.append(
        f"{'MATCH' if ok else 'MISMATCH'} {name}: spark {len(srows)}x{len(scols)} "
        f"hash={sh} | oracle {len(orows)}x{len(ocols)} hash={oh}"
    )
    if not ok:
        report.append(f"   spark cols: {scols}")
        report.append(f"   oracle cols: {ocols}")
        slines, olines = _lines(srows, scols), _lines(orows, ocols)
        s_only = collections.Counter(slines) - collections.Counter(olines)
        o_only = collections.Counter(olines) - collections.Counter(slines)
        report += [f"   spark only : {x}" for x in list(s_only.elements())[:3]]
        report += [f"   oracle only: {x}" for x in list(o_only.elements())[:3]]
    return ok, "\n".join(report)


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("drive-contract")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # 1. smoke: entry() at sf0.001
    res = entrymod.entry(spark)
    rows = res.collect()
    print(f"SMOKE entry(): {len(rows)} row(s), schema={res.columns}")
    assert len(rows) >= 1
    print("  ", rows[0].asDict())

    # 2. correctness: every query vs oracle at sf0.01
    con = oracle_con()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # optional argv filter: check only the named queries (spot-check a
    # change without the full sweep); no argv = full sweep
    if len(sys.argv) > 1:
        want = set(sys.argv[1:])
        unknown = want - qs.keys()
        assert not unknown, f"unknown query names: {sorted(unknown)}"
        qs = {k: v for k, v in qs.items() if k in want}
        oracles = {k: v for k, v in oracles.items() if k in want}
    n_match = 0
    for name, fn in sorted(qs.items()):
        sdf = fn(spark, SF)
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf.collect())} rows")
            continue
        ok, report = compare(name, sdf, con, oracles[name])
        n_match += ok
        print(report)
    print(f"\n{n_match}/{len(oracles)} oracle-checked queries match")
    spark.stop()
    return 0 if n_match == len(oracles) else 1


if __name__ == "__main__":
    sys.exit(main())
