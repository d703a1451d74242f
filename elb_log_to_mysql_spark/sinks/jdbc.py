"""JDBC sink (reference L3: pandas.to_sql append to MySQL, etl:152-160).

Spark-native replacement: `df.write.jdbc` writes partitions in
parallel with batched inserts. The reference's append-only semantics
duplicate rows on re-run (etl:155, SURVEY §7e); for idempotent
re-ingest the engine offers file-scoped replacement: delete rows for
the `log_source_file` values in this batch, then append — re-running
a file replaces it instead of duplicating it.

No MySQL exists in this sandbox, but the REAL `df.write.jdbc` path is
exercised end-to-end in tests against Apache Derby embedded (its
driver ships in Spark's own jars — tests/test_sinks_jdbc.py): write,
read-back, and the idempotent delete-then-append flow. Against a real
cluster, pass a jdbc:mysql:// URL and the mysql-connector-j jar via
spark.jars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEFAULT_TABLE = "elb_log_data"  # etl:153

# Lineage VARCHAR bound: covers the longest legal s3:// URI
# (5 + 63-char bucket + "/" + 1024-byte key = 1093) with headroom.
LINEAGE_VARCHAR_LEN = 1200


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str = DEFAULT_TABLE,
    mode: str = "append",
    user: str | None = None,
    password: str | None = None,
    num_partitions: int | None = None,
    batch_size: int = 10_000,
    isolation_level: str = "READ_COMMITTED",
    driver: str | None = None,
    create_table_column_types: str | None = None,
) -> None:
    """Parallel JDBC write. numPartitions bounds concurrent
    connections to the database (each partition = one connection);
    batchsize amortizes round-trips. At 100 TB the DB, not Spark, is
    the bottleneck — coalesce to what the DB can absorb."""
    writer = df
    if num_partitions is not None:
        writer = df.coalesce(num_partitions)
    opts = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batch_size),
        "isolationLevel": isolation_level,
    }
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    if driver is not None:
        opts["driver"] = driver
    if create_table_column_types is not None:
        opts["createTableColumnTypes"] = create_table_column_types
    writer.write.format("jdbc").options(**opts).mode(mode).save()


_MISSING_TABLE_SQLSTATES = {
    "42S02",  # MySQL/MariaDB (error 1146) and ODBC-standard base table not found
    "42X05",  # Derby: table/view does not exist
    "42P01",  # PostgreSQL: undefined_table
    "42Y55",  # Derby: DDL on nonexistent object
}


def _missing_table_sqlstate(ex) -> bool:
    """Walk a py4j-wrapped SQLException's cause chain for a
    table-not-found SQLState. Message-substring matching is wrong
    across dialects (MySQL 1146 says "doesn't exist", which the old
    'does not exist' check missed) — SQLState is the portable signal."""
    je = getattr(ex, "java_exception", None)
    while je is not None:
        get_state = getattr(je, "getSQLState", None)
        if get_state is not None:
            try:
                state = get_state()
            except Exception:
                state = None
            if state in _MISSING_TABLE_SQLSTATES:
                return True
        je = je.getCause() if hasattr(je, "getCause") else None
    return False


def _table_exists(con, table: str) -> bool:
    """Probe DatabaseMetaData.getTables for `table`, trying the
    identifier as given plus upper/lower case (Derby folds unquoted
    identifiers to upper, MySQL on Linux is case-sensitive as given)."""
    meta = con.getMetaData()
    for name in dict.fromkeys((table, table.upper(), table.lower())):
        rs = meta.getTables(None, None, name, None)
        try:
            if rs.next():
                return True
        finally:
            rs.close()
    return False


def build_delete_sql(
    table: str, source_col: str, files: list[str], quote: str
) -> str:
    """The lineage-scoped DELETE statement, as a pure function so
    tests can pin the exact SQL each dialect's quote char produces
    (backtick for MySQL, double-quote for Derby/ANSI). Values are
    SQL-escaped by doubling single quotes — the one escape every
    target dialect agrees on."""
    quoted = ",".join("'" + f.replace("'", "''") + "'" for f in files)
    col_q = f"{quote}{source_col}{quote}"
    return f"DELETE FROM {table} WHERE {col_q} IN ({quoted})"


def jdbc_delete_files(
    spark,
    url: str,
    files: list[str],
    table: str = DEFAULT_TABLE,
    source_col: str = "log_source_file",
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
) -> bool:
    """Driver-side DELETE of a batch's lineage keys before re-append.

    The delete is one statement over the (small) file list — standard
    practice before a parallel JDBC append; the heavy write stays
    distributed. Runs through java.sql.DriverManager on the driver
    JVM, authenticating with user/password when given (credentials
    passed as Spark options are NOT embedded in the URL, so they must
    be forwarded here too). Returns False when the target table does
    not exist yet (first ingest) — callers proceed straight to append.
    """
    if not files:
        return True
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    if user is not None:
        con = jvm.java.sql.DriverManager.getConnection(url, user, password or "")
    else:
        con = jvm.java.sql.DriverManager.getConnection(url)
    try:
        if not _table_exists(con, table):
            return False
        # Spark's JDBC writer creates case-sensitive (quoted) column
        # identifiers; the delete must quote them the same way. The
        # identifier quote char comes from the driver's metadata, so
        # this matches whatever dialect the URL points at.
        q = con.getMetaData().getIdentifierQuoteString().strip() or '"'
        st = con.createStatement()
        try:
            st.executeUpdate(build_delete_sql(table, source_col, files, q))
        except Exception as ex:
            # Metadata probe can race a concurrent DROP; fall through
            # to append on the portable missing-table SQLStates.
            if _missing_table_sqlstate(ex):
                return False
            raise
        finally:
            st.close()
    finally:
        con.close()
    return True


def write_jdbc_idempotent(
    df: DataFrame,
    url: str,
    table: str = DEFAULT_TABLE,
    source_col: str = "log_source_file",
    driver: str | None = None,
    **write_kwargs,
) -> list[str]:
    """Real-JDBC file-scoped replace: delete this batch's lineage keys,
    then parallel-append — re-running an ingested file replaces its
    rows instead of duplicating them (the reference's append-only
    to_sql duplicates, etl:155). Returns the replaced file list.

    The lineage column is created as VARCHAR (not the dialect's
    unbounded text type) so it stays comparable and indexable — the
    delete predicate depends on it, and some dialects (Derby CLOB)
    refuse equality on unbounded text. The length bound is 1200:
    an s3:// URI can reach 5 ("s3://") + 63 (bucket) + 1 + 1024
    (S3's object-key byte limit) = 1093 characters, so the earlier
    VARCHAR(1000) could reject a legitimate maximal key; 1200 covers
    it with headroom while staying well under MySQL's row limits
    (equality predicates only — no index needed on this column).

    The sink makes TWO passes over `df` (lineage-key distinct, then
    the append) and caches nothing itself: a caller whose plan is
    costly hands it a frame over its own cache. Both ALB ingests pass
    `sources/alb.py:parse_and_classify` rows, whose parse cache both
    passes read, so each batch is held in the block manager once. The
    lineage pass then plans as an aggregate over that cache (Spark's
    outer-join elimination drops the UA join from a `distinct` of the
    file column), and only the append runs the broadcast UA join."""
    files = distinct_source_files(df, source_col)
    jdbc_delete_files(
        df.sparkSession, url, files, table=table, source_col=source_col,
        driver=driver,
        user=write_kwargs.get("user"),
        password=write_kwargs.get("password"),
    )
    write_kwargs.setdefault(
        "create_table_column_types",
        f"{source_col} VARCHAR({LINEAGE_VARCHAR_LEN})",
    )
    write_jdbc(df, url, table=table, driver=driver, **write_kwargs)
    return files


def distinct_source_files(df: DataFrame, source_col: str = "log_source_file") -> list[str]:
    """The batch's lineage keys — one per ingested file, so the list is
    small (it is the unit of re-ingest) and safe to collect."""
    return [r[0] for r in df.select(source_col).distinct().collect()]

