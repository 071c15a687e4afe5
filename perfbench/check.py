"""Output check of a workload's entries, run outside the timed passes.

The check executes the DataFrames the last warm pass built once more and
collects them. Oracled entries are compared with their DuckDB oracle over
the same generated tables through ``tests/oracle_harness.py``; rows-only
entries must keep the schema they had in the cold pass and return at least
one row.
"""

from __future__ import annotations


def check_entries(
    spark, sf_dir: str, names: list[str], frames: dict, cold_schemas: dict[str, str],
    duck_tmp: str,
) -> dict[str, list[str]]:
    """Return ``{name: [problem, ...]}`` for every entry in ``names`` (an
    empty list is a pass). An entry without a frame (it raised in the last
    pass) or whose check raises fails on its own; the others still run."""
    import __spark_entry__ as entry_mod
    from tests import oracle_harness as OH

    oracles = entry_mod.oracle_sql()
    results: dict[str, list[str]] = {}
    for name in names:
        df = frames.get(name)
        if df is None:
            results[name] = [f"{name}: no output in the last pass"]
            continue
        try:
            schema = df.schema.simpleString()
            problems = []
            if cold_schemas.get(name, schema) != schema:
                problems.append(f"{name}: schema {schema} != cold pass {cold_schemas[name]}")
            if name in oracles:
                con = OH.duck_connection(sf_dir)
                # the harness points DuckDB's spill dir at /tmp; keep it in the run dir
                con.execute(f"SET temp_directory='{duck_tmp}'")
                try:
                    problems += OH.compare(name, df, con.sql(oracles[name]))
                finally:
                    con.close()
            elif not df.schema.fields or df.count() == 0:
                problems.append(f"{name}: rows-only result is empty")
            results[name] = problems
        except Exception as exc:  # noqa: BLE001 - one entry's failure is its own result
            msg = " | ".join(ln.strip() for ln in str(exc).splitlines() if ln.strip())
            results[name] = [f"{name}: {type(exc).__name__} {msg[:500]}"]
        finally:
            spark.catalog.clearCache()
    return results
