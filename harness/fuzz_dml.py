"""Randomized cross-engine DML FUZZER: random CREATE TABLE schemas and
INSERT/UPDATE/DELETE/ALTER statement sequences replayed on the engine
AND DuckDB; after every mutation both tables must hold the same row
multiset. Usage: python harness/fuzz_dml.py [seed] [n_sequences].

Complements fuzz_diff.py (read-only analytics): this drives the
catalog/DML router — typed literals incl. NULLs, WHERE predicates over
mixed types, SET with arithmetic, ALTER ADD COLUMN mid-sequence,
INSERT..SELECT self-reads (also with unaliased computed columns), ON
CONFLICT upserts, tuple ``SET (a, b) = (..)`` assignments, UPDATE..FROM,
DELETE..USING and ``WHERE c0 IN (SELECT ..)`` subqueries — the surface
the dev.json cases only sample pointwise.
"""
import random
import sys

import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import duckdb_nsql_spark as dns

rng = random.Random(7)

COL_TYPES = ["INTEGER", "DOUBLE", "VARCHAR", "DATE"]


def lit(ty: str) -> str:
    if rng.random() < 0.12:
        return "NULL"
    if ty == "INTEGER":
        return str(rng.randint(-50, 200))
    if ty == "DOUBLE":
        return f"{rng.uniform(-10, 100):.2f}"
    if ty == "VARCHAR":
        return "'" + rng.choice(["alpha", "beta", "g''mm", "Δδ", "x y", ""]) + "'"
    return f"DATE '19{rng.randint(90, 99)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}'"


def lit_nonnull(ty: str) -> str:
    while True:
        v = lit(ty)
        if v != "NULL":
            return v


def pred(cols: list) -> str:
    name, ty = rng.choice(cols)
    if ty == "INTEGER":
        return rng.choice([
            f"{name} > {rng.randint(-10, 120)}",
            f"{name} % {rng.randint(2, 5)} = 0",
            f"{name} IS NULL",
            f"{name} BETWEEN {rng.randint(-10, 40)} AND {rng.randint(41, 150)}",
        ])
    if ty == "DOUBLE":
        return rng.choice([
            f"{name} < {rng.uniform(0, 80):.1f}",
            f"{name} IS NOT NULL",
        ])
    if ty == "VARCHAR":
        return rng.choice([
            f"{name} LIKE '%a%'", f"{name} = 'beta'", f"{name} IS NULL",
            f"length({name}) > 3",
        ])
    return rng.choice([
        f"{name} >= DATE '1995-06-01'", f"{name} IS NOT NULL",
    ])


def set_expr(name: str, ty: str, cols: list) -> str:
    if ty == "INTEGER":
        return rng.choice([
            f"{name} = {name} + {rng.randint(1, 9)}",
            f"{name} = {rng.randint(0, 99)}",
            f"{name} = NULL",
        ])
    if ty == "DOUBLE":
        return rng.choice([
            f"{name} = round({name} * 1.1, 2)",
            f"{name} = {rng.uniform(0, 50):.2f}",
        ])
    if ty == "VARCHAR":
        return rng.choice([
            f"{name} = upper({name})",
            f"{name} = concat({name}, '!')",
            f"{name} = 'reset'",
        ])
    return f"{name} = {name} + INTERVAL {rng.randint(1, 30)} DAY"


def computed(name: str, ty: str) -> str:
    """An unaliased same-typed expression over column ``name`` (its
    generated column name is not a plain identifier)."""
    if ty == "INTEGER":
        return rng.choice([f"{name} + 1", f"abs({name})"])
    if ty == "DOUBLE":
        return rng.choice([f"round({name} * 1.5, 2)", f"{name} / 2.0"])
    if ty == "VARCHAR":
        return rng.choice([f"upper({name})", f"{name} || 'z'"])
    return name


def run_sequence(seq_id: int, eng, ddb) -> list:
    """Returns list of (stmt, error) mismatches for one random sequence."""
    for con in (eng, ddb):  # clear any txn a previous sequence left open
        try:
            con.execute("ROLLBACK")
        except Exception:  # noqa: BLE001
            pass
    tname = f"t{seq_id}"
    ncols = rng.randint(2, 4)
    cols = [(f"c{i}", rng.choice(COL_TYPES)) for i in range(ncols)]
    has_pk = rng.random() < 0.5
    if has_pk:
        cols[0] = ("c0", "INTEGER")  # PK column: small int domain so
        # upserts actually collide
    has_nn = rng.random() < 0.3  # last column NOT NULL
    has_def = rng.random() < 0.3  # c1 carries a DEFAULT

    def decorate(n: str, t: str) -> str:
        d = f"{n} {t}"
        if has_pk and n == "c0":
            d += " PRIMARY KEY"
        if has_def and n == "c1":
            d += f" DEFAULT {lit_nonnull(t)}"
        if has_nn and n == cols[-1][0] and not (has_pk and n == "c0"):
            d += " NOT NULL"
        return d

    coldefs = ", ".join(decorate(n, t) for n, t in cols)
    stmts = [f"CREATE TABLE {tname} ({coldefs})"]

    # auxiliary table for join-DML (UPDATE..FROM / DELETE..USING): c0 is
    # a UNIQUE int join key — a multi-match join-update picks an
    # arbitrary match in both engines, which would be a fuzz flake
    join_dml = cols[0][1] == "INTEGER" and len(cols) >= 2
    uname = f"u{seq_id}"
    if join_dml:
        aux_ty = cols[1][1]
        stmts.append(f"CREATE TABLE {uname} (c0 INTEGER, c1 {aux_ty})")
        aux_keys = rng.sample(range(30), rng.randint(3, 8))
        stmts.append(
            f"INSERT INTO {uname} VALUES " + ", ".join(
                f"({k2}, {lit(aux_ty)})" for k2 in aux_keys
            )
        )
    in_txn = False
    deleted_in_txn = False  # DuckDB 1.0 limitation: ART indexes are not
    # updated by in-transaction DELETEs, so ANY insert (plain / OR
    # IGNORE / OR REPLACE) of a PK deleted earlier in the SAME open
    # transaction misbehaves in DuckDB (plain raises a phantom duplicate
    # key; OR IGNORE / OR REPLACE silently lose the row — verified live,
    # see test_dml_ext.py::test_or_replace_after_in_txn_delete). Our
    # engine keeps correct semantics, so the generator must not emit
    # that shape: after a DELETE inside an open txn on a PK table, the
    # txn is closed before the next insert.
    for _ in range(rng.randint(8, 16)):
        r = rng.random()
        live = list(cols)
        if rng.random() < 0.08 and not in_txn:
            stmts.append("BEGIN TRANSACTION")
            in_txn = True
        elif rng.random() < 0.2 and in_txn:
            stmts.append(rng.choice(["COMMIT", "ROLLBACK"]))
            in_txn = False
            deleted_in_txn = False
        if has_pk and in_txn and deleted_in_txn and r < 0.6:
            stmts.append("COMMIT")
            in_txn = False
            deleted_in_txn = False
        if join_dml and r >= 0.9:
            shape = rng.randrange(4)
            sub = f"(SELECT c0 FROM {uname} WHERE c0 > {rng.randint(0, 20)})"
            if shape == 0:
                stmts.append(
                    f"UPDATE {tname} SET c1 = {uname}.c1 FROM {uname}"
                    f" WHERE {tname}.c0 = {uname}.c0"
                )
            elif shape == 1:
                n, t = rng.choice(live[1:])
                stmts.append(
                    f"UPDATE {tname} SET {set_expr(n, t, live)}"
                    f" WHERE c0 IN {sub}"
                )
            else:
                stmts.append(
                    f"DELETE FROM {tname} USING {uname}"
                    f" WHERE {tname}.c0 = {uname}.c0"
                    if shape == 2
                    else f"DELETE FROM {tname} WHERE c0 IN {sub}"
                )
                deleted_in_txn = deleted_in_txn or in_txn
            continue
        if r < 0.45:
            nrows = rng.randint(1, 4)
            if has_pk:
                # distinct keys within one statement (DuckDB rejects
                # same-statement duplicates even for OR REPLACE)
                keys = rng.sample(range(30), nrows)
                vals = ", ".join(
                    "(" + ", ".join(
                        [str(keys[ri])]
                        + [lit(t) for _n, t in live[1:]]
                    ) + ")"
                    for ri in range(nrows)
                )
                verb = rng.choice(
                    ["INSERT OR REPLACE INTO", "INSERT OR IGNORE INTO",
                     "INSERT OR REPLACE INTO"]
                )
                stmts.append(f"{verb} {tname} VALUES {vals}")
            else:
                vals = ", ".join(
                    "(" + ", ".join(lit(t) for _n, t in live) + ")"
                    for _ in range(nrows)
                )
                stmts.append(f"INSERT INTO {tname} VALUES {vals}")
        elif r < 0.55:
            # partial-column INSERT: missing columns take their DEFAULT
            # (or NULL), so NOT NULL/DEFAULT interplay is exercised
            subset = rng.sample(live, rng.randint(1, len(live)))
            if has_pk and ("c0", "INTEGER") in live and all(
                n != "c0" for n, _ in subset
            ):
                subset.insert(0, ("c0", "INTEGER"))
            names = ", ".join(n for n, _ in subset)
            row = ", ".join(
                str(rng.randint(0, 29)) if (has_pk and n == "c0")
                else lit(t)
                for n, t in subset
            )
            stmts.append(
                f"INSERT INTO {tname} ({names}) VALUES ({row})"
            )
        elif r < 0.6 and has_pk:
            # upsert: collide on the PK, rewrite a non-key column from
            # the excluded row
            tgt = [n for n, _ in live[1:]]
            row = ", ".join(
                [str(rng.randint(0, 9))] + [lit(t) for _n, t in live[1:]]
            )
            if len(tgt) >= 2 and rng.random() < 0.5:
                # tuple assignment
                a, b = rng.sample(tgt, 2)
                upd = f"({a}, {b}) = (excluded.{a}, excluded.{b})"
            else:
                setc = rng.choice(tgt) if tgt else "c0"
                upd = f"{setc} = excluded.{setc}"
            stmts.append(
                f"INSERT INTO {tname} VALUES ({row}) "
                f"ON CONFLICT (c0) DO UPDATE SET {upd}"
            )
        elif r < 0.68:
            if len(live) >= 2 and rng.random() < 0.3:
                # tuple assignment SET (a, b) = (e1, e2)
                pair = rng.sample(live, 2)
                sets = [set_expr(n, t, live).split(" = ", 1) for n, t in pair]
                setl = (
                    f"({sets[0][0]}, {sets[1][0]}) = "
                    f"({sets[0][1]}, {sets[1][1]})"
                )
            else:
                n, t = rng.choice(live)
                setl = set_expr(n, t, live)
            stmts.append(f"UPDATE {tname} SET {setl} WHERE {pred(live)}")
        elif r < 0.8:
            stmts.append(f"DELETE FROM {tname} WHERE {pred(live)}")
            deleted_in_txn = deleted_in_txn or in_txn
        elif r < 0.88:
            sel = "*"
            if rng.random() < 0.5:
                # unaliased computed columns: INSERT aligns by position
                sel = ", ".join(computed(n, t) for n, t in live)
            stmts.append(
                f"INSERT INTO {tname} SELECT {sel} FROM {tname}"
                f" WHERE {pred(live)}"
            )
        else:
            newc = f"c{len(cols)}"
            ty = rng.choice(COL_TYPES)
            cols.append((newc, ty))
            stmts.append(f"ALTER TABLE {tname} ADD COLUMN {newc} {ty}")
    finds = []
    for st in stmts:
        derr = serr = None
        try:
            ddb.execute(st)
        except Exception as ex:  # noqa: BLE001
            derr = str(ex).strip().splitlines()[0][:90] if str(ex).strip() else type(ex).__name__
        try:
            eng.execute(st)
        except Exception as ex:  # noqa: BLE001
            serr = str(ex).strip().splitlines()[0][:120] if str(ex).strip() else type(ex).__name__
        if (derr is None) != (serr is None):
            finds.append((st, f"derr={derr} serr={serr}"))
            break
        if derr is not None:
            continue
        d = sorted(map(str, ddb.execute(
            f"SELECT * FROM {tname}").fetchall()))
        s = sorted(map(str, [tuple(r) for r in eng.execute(
            f"SELECT * FROM {tname}").collect()]))
        if d != s:
            diffs = [(a, b) for a, b in zip(d, s) if a != b][:2]
            finds.append((st, f"rows d={len(d)} s={len(s)} {diffs}"))
            break
    return finds


def main() -> None:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    global rng
    rng = random.Random(seed)
    eng = dns.connect(cpus=8)
    ddb = duckdb.connect()
    fails = 0
    for i in range(n):
        for st, why in run_sequence(i, eng, ddb):
            fails += 1
            print(f"=== DML MISMATCH (seq {i}) ===")
            print("STMT:", st)
            print("  ", why)
    print(f"DML FUZZ DONE: {n} sequences, {fails} mismatches (seed {seed})")


if __name__ == "__main__":
    main()
