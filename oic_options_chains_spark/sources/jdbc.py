"""JDBC table source (SURVEY.md S4): the reference's universe and as-of
queries run against live Postgres (reference: extract.2023-11-16.rkt:126-161;
extract.rkt:73-108); this is the Spark-side reader they map onto.

Scale notes:
- A JDBC scan with no partitioning options is ONE task reading the whole
  table through one connection — fine for dimensions (the reference's
  holdings/lookup tables are kilobytes), wrong for facts. ``jdbc_options``
  therefore only emits the 4-tuple (partitionColumn/lowerBound/upperBound/
  numPartitions) when ALL are provided, and callers loading anything
  non-tiny must provide them.
- Spark pushes filters and column pruning into the remote query for plain
  table reads (the WHERE clause travels to the DB), so declare filters on
  the returned DataFrame rather than baking them into ``dbtable``.
- ``fetchsize`` defaults well above the JDBC drivers' row-at-a-time
  default (the reference's row-at-a-time INSERT loop is the exact
  anti-pattern this avoids on the read side).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_FETCHSIZE = 10_000

# --- dialect seam -----------------------------------------------------------
#
# The reference's live sink is Postgres (transform-load.2025-08-19.rkt:
# 175-209: INSERT ... ON CONFLICT (pk...) DO NOTHING per options row);
# the in-sandbox e2e tests run against Derby (the only JDBC engine whose
# driver ships with the JVM here). Everything engine-specific the
# conflict-ignore path needs is tabled below so adding a dialect is one
# row, and the generated statements are golden-tested without a live
# server (tests/test_jdbc_dialects.py).


class JdbcDialect:
    """One JDBC engine's quirks, as data.

    - ``varchar_max``: emitting VARCHAR(n) above this is a DDL error
      (Derby hard-caps at 32672; Postgres at 10485760); wider stage
      columns fall back to Spark's default StringType mapping — the
      dialect's LOB — by being left off the pin list.
    - ``native_conflict_clause``: the engine has an atomic
      ``INSERT ... ON CONFLICT DO NOTHING``; otherwise the generated
      statement is the ANSI NOT EXISTS anti-join form, which is
      race-retried instead.
    - ``retryable_states``: SQLStates that mean "another writer won a
      race this idempotent statement can re-run through". Derby: dup
      key 23505 + serialization 40001 + lock timeout 40XL1. Postgres:
      the conflict clause swallows dup keys, but concurrent batch
      loads can still deadlock (40P01) or serialization-fail (40001).
    """

    __slots__ = ("name", "varchar_max", "native_conflict_clause", "retryable_states")

    def __init__(
        self,
        name: str,
        varchar_max: int,
        native_conflict_clause: bool,
        retryable_states: frozenset[str],
    ) -> None:
        self.name = name
        self.varchar_max = varchar_max
        self.native_conflict_clause = native_conflict_clause
        self.retryable_states = retryable_states


DIALECTS: dict[str, JdbcDialect] = {
    "derby": JdbcDialect(
        "derby", 32_672, False, frozenset({"23505", "40001", "40XL1"})
    ),
    "postgresql": JdbcDialect(
        "postgresql", 10_485_760, True, frozenset({"40001", "40P01"})
    ),
}


def get_dialect(name: str) -> JdbcDialect:
    """Resolve a dialect name; unknown engines get the conservative ANSI
    profile (Derby's caps, NOT EXISTS statement, dup-key retry only)."""
    return DIALECTS.get(name, DIALECTS["derby"])


def jdbc_options(
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    fetchsize: int = DEFAULT_FETCHSIZE,
) -> dict[str, str]:
    """Build the option map for ``spark.read.format("jdbc")``.

    Partitioning options are all-or-nothing: Spark requires the full
    4-tuple, and emitting a partial set is a confusing runtime error —
    so this raises early instead.
    """
    opts: dict[str, str] = {
        "url": url,
        "dbtable": table,
        "fetchsize": str(fetchsize),
    }
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    part = (partition_column, lower_bound, upper_bound, num_partitions)
    given = [p is not None for p in part]
    if any(given):
        if not all(given):
            raise ValueError(
                "partition_column, lower_bound, upper_bound and "
                "num_partitions must be provided together"
            )
        opts["partitionColumn"] = str(partition_column)
        opts["lowerBound"] = str(lower_bound)
        opts["upperBound"] = str(upper_bound)
        opts["numPartitions"] = str(num_partitions)
    return opts


def read_jdbc(spark: SparkSession, url: str, table: str, **kwargs) -> DataFrame:
    """Read a JDBC table as a DataFrame (thin over the built-in source)."""
    return spark.read.format("jdbc").options(**jdbc_options(url, table, **kwargs)).load()


def jdbc_or_registered(
    spark: SparkSession,
    table: str,
    jdbc_url: str | None = None,
    registered: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """The deploy/test seam: a live ``spark.read.jdbc`` scan when a URL is
    configured, the caller's registered DataFrame otherwise (how every
    pipeline here is unit-tested — no database ships in CI)."""
    if jdbc_url:
        return read_jdbc(spark, jdbc_url, table, **kwargs)
    if registered is None:
        raise ValueError(f"no JDBC url and no registered DataFrame for {table!r}")
    return registered


# Union of every dialect's retryable states — used only by the message-
# scan FALLBACK in _sql_states (when no java exception chain is
# attached); the live retry predicate intersects with the specific
# dialect's own set.
RETRYABLE_SQL_STATES = frozenset().union(
    *(d.retryable_states for d in DIALECTS.values())
)


def _sql_states(exc: Exception) -> set[str]:
    """Every SQLState found in a py4j-wrapped SQLException chain.

    Walks ``getSQLState()`` through both ``getNextException`` and
    ``getCause`` links instead of substring-matching the stringified
    error (which could false-positive on data echoed in the message).
    Falls back to scanning the message for the known retryable states
    whenever the walk yields NO state at all — either because no java
    exception was attached, or because the chain hid its SQLState past
    the 16-link bound / behind getSQLState() raising. The walk stays
    authoritative when it finds anything; the fallback only widens the
    empty case toward retrying (fail-safe for a genuinely retryable
    dup-key race whose state the chain didn't expose).
    """
    states: set[str] = set()
    je = getattr(exc, "java_exception", None)
    for _ in range(16):  # bound against cyclic cause chains
        if je is None:
            break
        try:
            state = je.getSQLState()
            if state:
                states.add(str(state).upper())
        except Exception:  # noqa: BLE001 — not a SQLException
            pass
        nxt = None
        for getter in ("getNextException", "getCause"):
            try:
                nxt = getattr(je, getter)()
            except Exception:  # noqa: BLE001
                nxt = None
            if nxt is not None:
                break
        je = nxt
    if not states:
        text = str(exc)
        states = {s for s in RETRYABLE_SQL_STATES if s in text}
    return states


def conflict_ignore_sql(
    target: str, staging: str, columns: Sequence[str], pk: Sequence[str], dialect: str
) -> str:
    """The one set-based statement that moves a staged batch into the
    target with the reference's insert semantics (schema.sql:23 +
    ``ON CONFLICT DO NOTHING``, transform-load.2025-08-19.rkt:209):

    - ``postgresql``: the literal ``INSERT ... ON CONFLICT DO NOTHING``
      — atomic under concurrent writers, the reference's exact form.
    - ``derby`` (and ANSI engines without upsert): insert-select with a
      NOT EXISTS anti-join on the PK — identical rows-inserted for
      idempotent replay; under CONCURRENT writers the PK constraint
      still guarantees uniqueness (the loser errors and retries) but
      the statement itself is not conflict-swallowing.

    Staging-side identifiers are double-quoted: Spark's JDBC writer
    CREATEs the stage with quoted (case-exact) column names, while the
    DB-owned target keeps its own (typically unquoted/folded) names —
    mixing the two unquoted is a resolution error on Derby/Postgres.
    """
    cols = ", ".join(columns)
    cols_s = ", ".join(f's."{c}"' for c in columns)
    if get_dialect(dialect).native_conflict_clause:
        conflict = ", ".join(pk)
        return (
            f"INSERT INTO {target} ({cols}) SELECT {cols_s} FROM {staging} s "
            f"ON CONFLICT ({conflict}) DO NOTHING"
        )
    on = " AND ".join(f't.{c} = s."{c}"' for c in pk)
    return (
        f"INSERT INTO {target} ({cols}) "
        f"SELECT {cols_s} FROM {staging} s "
        f"WHERE NOT EXISTS (SELECT 1 FROM {target} t WHERE {on})"
    )


def stage_varchar_pins(
    widths: dict[str, int], pk: Sequence[str], dialect: str
) -> str:
    """The ``createTableColumnTypes`` fragment that pins stage string
    columns to comparable VARCHARs (Spark's default StringType mapping
    is the dialect's LOB — CLOB on Derby, TEXT on Postgres — which
    cannot be compared against the target's VARCHAR PK columns).

    Widths are floored at 4000 (so a narrow probe batch doesn't create
    a stage later batches overflow under a fixed ``staging_table``) and
    clamped to the dialect's VARCHAR ceiling: an over-cap NON-PK column
    is left off the pin list (it lands as the LOB — legal DDL, and
    non-key columns never appear in the conflict comparison), while an
    over-cap PK column raises early (a LOB cannot serve as a comparable
    stage key). Pure string-in/string-out so the dialect matrix is
    golden-testable without a live server."""
    d = get_dialect(dialect)
    over = [c for c in pk if c in widths and max(widths[c], 4000) > d.varchar_max]
    if over:
        raise ValueError(
            f"PK string column(s) {over} exceed the {dialect} VARCHAR cap "
            f"({d.varchar_max}); a LOB cannot serve as a comparable stage key"
        )
    return ", ".join(
        f"{c} VARCHAR({max(w, 4000)})"
        for c, w in widths.items()
        if max(w, 4000) <= d.varchar_max
    )


def jdbc_conflict_ignore_append(
    df: DataFrame,
    url: str,
    table: str,
    pk: Sequence[str],
    dialect: str = "derby",
    staging_table: str | None = None,
    user: str | None = None,
    password: str | None = None,
) -> None:
    """Idempotent append into a LIVE JDBC table — the reference's actual
    sink shape (PK'd Postgres table, conflict-ignoring daily loads),
    not the parquet analog.

    Scale split: the batch lands in a STAGING table via Spark's
    distributed JDBC writer (every executor writes its partition over
    its own connection), then ONE set-based driver statement moves it
    into the target with conflict-ignore semantics and drops the stage.
    The dedup work happens inside the database engine where the PK
    index lives — never collected, never row-by-row over the wire.

    In-batch duplicates are collapsed Spark-side first (the DB
    statement guards against target conflicts, not intra-stage ones).

    The default staging name carries a per-call unique suffix so two
    concurrent loads into the same target cannot overwrite each other's
    stage (each batch lands in its own table and is dropped after its
    insert-select); pass ``staging_table`` only when you want a fixed,
    caller-serialized stage."""
    import uuid

    from oic_options_chains_spark.operators.dedup import dedup_by_key

    staging = staging_table or f"{table}_stage_{uuid.uuid4().hex[:12]}"
    batch = dedup_by_key(df, pk)
    # Spark's default JDBC mapping writes StringType as CLOB on Derby,
    # which cannot be compared against the target's VARCHAR PK columns;
    # pin stage strings to VARCHAR sized from the batch's own max length
    # (a fixed 4000 pin errors out longer rows) so the set-based
    # statement stays legal. The dedup is checkpointed once so the width
    # probe and the JDBC write share its computation instead of running
    # the shuffle twice, and widths are clamped to the dialect's VARCHAR
    # ceiling — a row past the cap lands the column as a LOB (legal DDL)
    # rather than emitting an illegal VARCHAR(n).
    str_fields = [f.name for f in batch.schema if f.dataType.simpleString() == "string"]
    widths: dict[str, int] = {}
    if str_fields:
        batch = batch.localCheckpoint(eager=True)
        wrow = batch.agg(
            *[F.max(F.length(F.col(c))).alias(c) for c in str_fields]
        ).collect()[0]
        widths = {c: max(int(wrow[c] or 1), 1) for c in str_fields}
    string_cols = stage_varchar_pins(widths, pk, dialect)
    writer = batch.write.format("jdbc").options(
        **jdbc_options(url, staging, user=user, password=password)
    )
    if string_cols:
        writer = writer.option("createTableColumnTypes", string_cols)
    writer.mode("overwrite").save()
    spark = df.sparkSession
    jvm = spark._jvm
    conn = (
        jvm.java.sql.DriverManager.getConnection(url, user, password)
        if user is not None
        else jvm.java.sql.DriverManager.getConnection(url)
    )
    try:
        st = conn.createStatement()
        sql = conflict_ignore_sql(
            table, staging, [f.name for f in batch.schema], pk, dialect
        )
        # Race handling is dialect-tabled: on non-upsert engines two
        # concurrent insert-selects can BOTH pass the NOT EXISTS probe
        # for the same key before either commits — the loser then hits
        # the PK constraint (23505), or on Derby a lock timeout (40XL1)
        # / deadlock victim (40001) while the winner holds its insert
        # locks. Engines with a native conflict clause swallow dup keys
        # atomically but can still deadlock/serialization-fail under
        # concurrent batch loads (Postgres 40P01/40001). The statement
        # is idempotent by construction — a re-run sees the winner's
        # committed rows and inserts only the rest — so any state in
        # the dialect's retryable set RETRIES instead of surfacing the
        # race to the caller (the reference's ON CONFLICT DO NOTHING
        # never errors). The predicate walks getSQLState() through the
        # exception chain rather than substring-matching the message.
        retry_states = get_dialect(dialect).retryable_states
        for attempt in range(3):
            try:
                st.execute(sql)
                break
            except Exception as e:  # noqa: BLE001 — py4j wraps SQLException
                if not (_sql_states(e) & retry_states) or attempt == 2:
                    raise
        st.execute(f"DROP TABLE {staging}")
    finally:
        conn.close()
