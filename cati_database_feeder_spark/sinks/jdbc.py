"""JDBC sinks (SURVEY.md §2.1 ops #7-#9, E12).

Reference behavior: per-row parameterized INSERT with one commit per
batch (feeder.py:230-243) and per-row keyed UPDATE (add_q5010.py:33-41).

Engine shape:
- reads: ``jdbc_read`` — Spark pushes column pruning and filters into
  the remote SQL (the reference's one hand-optimization, feeder.py:137,
  is automatic here);
- appends: ``jdbc_append`` — executors write partitions concurrently
  with batched inserts (``batchsize``), replacing the row-at-a-time
  loop;
- keyed updates: ``merge_upsert`` — stage the updates via a fast
  append, then one server-side ``MERGE`` (generated here, executed over
  a caller-supplied DB-API connection). At 100 TB of updates the
  staging write is the parallel part and the MERGE is a single set
  operation in the target DB — never per-row UPDATE over the wire. The
  default stage (DuckDB) is one capped Arrow collect copied by one
  ``CREATE TABLE … AS SELECT``: staged types are the Arrow schema's.

tests/test_sinks.py runs the write paths on DuckDB and embedded Derby.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jdbc_read(spark: SparkSession, url: str, table: str, properties: dict | None = None,
              partition_column: str | None = None, num_partitions: int = 8,
              lower_bound: int | None = None, upper_bound: int | None = None) -> DataFrame:
    """Op #7: JDBC scan. With a partition column, Spark issues
    ``num_partitions`` range-predicated queries in parallel instead of
    one giant cursor — required for any large remote table."""
    reader = (spark.read.format("jdbc")
              .option("url", url)
              .option("dbtable", table)
              .option("pushDownPredicate", "true"))
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("numPartitions", str(num_partitions))
                  .option("lowerBound", str(lower_bound or 0))
                  .option("upperBound", str(upper_bound or 1_000_000)))
    return reader.load()


def jdbc_append(df: DataFrame, url: str, table: str, properties: dict | None = None,
                batchsize: int = 10_000) -> None:
    """Op #8: batched parallel append — the reference's 40-column
    per-row INSERT loop (feeder.py:230-243) as one distributed write."""
    writer = (df.write.format("jdbc")
              .option("url", url)
              .option("dbtable", table)
              .option("batchsize", str(batchsize))
              .mode("append"))
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def merge_sql(target: str, staging: str, key_cols: list[str],
              update_cols: list[str], insert_cols: list[str] | None = None) -> str:
    """Op #9/E12: generate the server-side MERGE replacing per-row
    UPDATEs (add_q5010.py:33-41: ``UPDATE … SET q5010 WHERE id``).
    ANSI MERGE syntax — valid for Postgres 15+, DuckDB, and most
    warehouses."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    sets = ", ".join(f"{c} = s.{c}" for c in update_cols)
    stmt = (f"MERGE INTO {target} t USING {staging} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets}")
    if insert_cols:
        cols = ", ".join(insert_cols)
        vals = ", ".join(f"s.{c}" for c in insert_cols)
        stmt += f" WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    return stmt


def update_insert_sql(target: str, staging: str, key_cols: list[str],
                      update_cols: list[str],
                      insert_cols: list[str] | None = None) -> list[str]:
    """MERGE fallback for engines without it (Postgres <15, DuckDB <1.4):
    set-based UPDATE…FROM + anti-joined INSERT…SELECT — still two set
    operations total, never per-row statements."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    sets = ", ".join(f"{c} = s.{c}" for c in update_cols)
    stmts = [f"UPDATE {target} t SET {sets} FROM {staging} s WHERE {on}"]
    if insert_cols:
        cols = ", ".join(insert_cols)
        anti = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        stmts.append(
            f"INSERT INTO {target} ({cols}) SELECT {cols} FROM {staging} s "
            f"WHERE NOT EXISTS (SELECT 1 FROM {target} t WHERE {anti})")
    return stmts


def merge_upsert(df: DataFrame, connection, target: str, key_cols: list[str],
                 update_cols: list[str], staging: str = "_staging_upsert",
                 insert_missing: bool = True, dialect: str = "merge",
                 write_staging=None) -> list[str]:
    """Stage-then-MERGE keyed upsert.

    ``connection`` is any DB-API connection to the target database (the
    driver holds exactly one, for the single MERGE statement — all bulk
    data moves through the staging write). Production passes
    ``write_staging=lambda d, t: jdbc_append(d, url, t)``. The default
    needs DuckDB's ``connection.register``: one ``toArrow()`` collect of
    at most ``_MAX_LOCAL_STAGING_ROWS`` rows (more raises before any DDL)
    becomes a real ``staging`` table by one ``CREATE … AS SELECT``. Only
    top-level TIMESTAMPs stage as plain TIMESTAMP (session wall clock).
    ``dialect="update_insert"`` picks the pre-MERGE two-statement form.
    Returns the SQL statements it executed.
    """
    if write_staging is None:
        if not hasattr(connection, "register"):
            raise TypeError(f"{type(connection).__name__} has no register() for the default "
                            "Arrow staging; pass write_staging=lambda d, t: jdbc_append(d, url, t)")

        def write_staging(d: DataFrame, table_name: str) -> None:
            # tz-aware Arrow timestamps stage as TIMESTAMPTZ, shifted by DuckDB's TimeZone
            d = d.withColumns({c: d[c].cast("timestamp_ntz")
                               for c, t in d.dtypes if t == "timestamp"})
            # driver-side materialization is TEST-SCALE ONLY: hard-capped so a
            # production-size frame fails fast with the right fix, not a driver OOM
            table = d.limit(_MAX_LOCAL_STAGING_ROWS + 1).toArrow()
            if table.num_rows > _MAX_LOCAL_STAGING_ROWS:
                raise ValueError(
                    f"default staging write collects to the driver and is capped at "
                    f"{_MAX_LOCAL_STAGING_ROWS} rows; pass write_staging=lambda d, t: "
                    f"jdbc_append(d, url, t) for production")
            view = f"{table_name}__arrow_stage"
            connection.register(view, table)
            try:
                connection.execute(
                    f'CREATE OR REPLACE TABLE {table_name} AS SELECT * FROM "{view}"')
            finally:
                connection.unregister(view)

    write_staging(df, staging)
    insert_cols = df.columns if insert_missing else None
    if dialect == "merge":
        stmts = [merge_sql(target, staging, key_cols, update_cols, insert_cols)]
    else:
        stmts = update_insert_sql(target, staging, key_cols, update_cols, insert_cols)
    for stmt in stmts:
        connection.execute(stmt)
    return stmts


_MAX_LOCAL_STAGING_ROWS = 100_000
