"""Per-engine JDBC dialect handling for the three databases the
reference proxies — MySQL (``yaml/sql_proxy_mysql_deployment.yaml:48``,
port 3306), PostgreSQL
(``yaml/sql_proxy_postgresql_deployment_with_sa.yaml:57``, port 5432)
and MSSQL (``dags/mssql_to_bigquery.py:2``, three-part
``database.dbo.thetable`` names) — plus embedded Derby, the engine the
live JDBC tests run against.

Each dialect knows its URL shape, driver class, identifier quoting and
catalog (INFORMATION_SCHEMA) query, including the schema/database
predicate the reference's own export uses
(``TABLE_SCHEMA = '{db}' AND TABLE_NAME = '{table}'``, reference
``dags/cloudsql_to_bigquery.py:141``) so same-named tables in other
schemas can't bleed into a scan.  Identifier values are validated
against a strict pattern before they are ever interpolated into SQL.

Type-name quirks are handled per dialect *before* the shared op-C
substring collapse (``functions.typemap``): e.g. PostgreSQL's
``interval`` contains the substring ``INT`` and would otherwise collapse
to INTEGER.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from ..functions.typemap import bq_type_for

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*$")


def validate_ident(name: str) -> str:
    """Allow only plain SQL identifiers into interpolated catalog
    queries — anything else (quotes, semicolons, spaces, dots) raises
    instead of becoming an injection surface."""
    if not _IDENT_RE.match(name or ""):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


@dataclass(frozen=True)
class JdbcDialect:
    name: str
    default_port: int
    driver: str
    quote_open: str
    quote_close: str
    # catalog column that scopes tables to a database/schema, and
    # whether it matches the *database* (MySQL) or a *namespace*
    # inside it (PostgreSQL/MSSQL)
    schema_column: str = "TABLE_SCHEMA"
    default_schema: str | None = None
    type_overrides: dict[str, str] = field(default_factory=dict)
    # driver connection properties that bound connecting and each
    # blocking socket read, with their unit in parts of a second
    timeout_props: tuple[tuple[str, int], ...] = ()

    def url(
        self,
        host: str,
        database: str,
        port: int | None = None,
        params: dict[str, str] | None = None,
    ) -> str:
        p = port or self.default_port
        if self.name == "mssql":
            # SQL Server: semicolon properties, databaseName key
            extra = "".join(f";{k}={v}" for k, v in (params or {}).items())
            return f"jdbc:sqlserver://{host}:{p};databaseName={database}{extra}"
        qs = "&".join(f"{k}={v}" for k, v in (params or {}).items())
        return f"jdbc:{self.name}://{host}:{p}/{database}" + (f"?{qs}" if qs else "")

    def timeout_properties(self, seconds: float) -> dict[str, str]:
        """This driver's connect and socket timeouts, set to ``seconds``."""
        return {k: str(math.ceil(seconds * per_s)) for k, per_s in self.timeout_props}

    def quote(self, ident: str) -> str:
        validate_ident(ident)
        return f"{self.quote_open}{ident}{self.quote_close}"

    def schema_query(
        self, table: str, database: str | None = None, schema: str | None = None
    ) -> str:
        """Op B's catalog scan with the reference's schema predicate.

        ``database`` scopes MySQL (where TABLE_SCHEMA *is* the
        database); ``schema`` scopes the namespace for
        PostgreSQL/MSSQL (``public``/``dbo`` by default)."""
        validate_ident(table)
        if self.name == "derby":
            # Derby has no INFORMATION_SCHEMA; same projection/order
            # from its SYS catalog
            preds = [f"t.TABLENAME = '{table}'"]
            scope = schema or self.default_schema
            if scope:
                validate_ident(scope)
                preds.append(f"s.SCHEMANAME = '{scope}'")
            return (
                "SELECT c.COLUMNNAME AS COLUMN_NAME, "
                "CAST(c.COLUMNDATATYPE AS VARCHAR(40)) AS DATA_TYPE "
                "FROM SYS.SYSCOLUMNS c "
                "JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID "
                "JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID "
                f"WHERE {' AND '.join(preds)} ORDER BY c.COLUMNNUMBER"
            )
        preds = [f"TABLE_NAME = '{table}'"]
        scope = database if self.name == "mysql" else (schema or self.default_schema)
        if self.name != "mysql" and database:
            validate_ident(database)
            preds.append(f"TABLE_CATALOG = '{database}'")
        if scope:
            validate_ident(scope)
            preds.append(f"{self.schema_column} = '{scope}'")
        where = " AND ".join(preds)
        return (
            "SELECT COLUMN_NAME, DATA_TYPE FROM INFORMATION_SCHEMA.COLUMNS "
            f"WHERE {where} ORDER BY ORDINAL_POSITION"
        )

    def bq_type(self, datatype: str) -> str:
        """Dialect-aware op-C collapse: engine-specific names are
        normalized before the shared substring match."""
        key = datatype.strip().lower()
        key = re.sub(r"\(.*\)", "", key).strip()  # drop (p,s) etc.
        if key in self.type_overrides:
            return self.type_overrides[key]
        return bq_type_for(datatype)


MYSQL = JdbcDialect(
    name="mysql",
    default_port=3306,
    driver="com.mysql.cj.jdbc.Driver",
    timeout_props=(("connectTimeout", 1000), ("socketTimeout", 1000)),
    quote_open="`",
    quote_close="`",
    # MySQL YEAR is a 1-2 byte year number; TIME is wall-clock duration
    type_overrides={"year": "INTEGER", "time": "STRING"},
)

POSTGRESQL = JdbcDialect(
    name="postgresql",
    default_port=5432,
    driver="org.postgresql.Driver",
    timeout_props=(("connectTimeout", 1), ("socketTimeout", 1)),
    quote_open='"',
    quote_close='"',
    default_schema="public",
    type_overrides={
        # contains "INT" but is neither an integer nor a date
        "interval": "STRING",
        # contains no needle; make the numeric intent explicit
        "real": "FLOAT",
        "serial": "INTEGER",
        "bigserial": "INTEGER",
        "smallserial": "INTEGER",
    },
)

MSSQL = JdbcDialect(
    name="mssql",
    default_port=1433,
    driver="com.microsoft.sqlserver.jdbc.SQLServerDriver",
    timeout_props=(("loginTimeout", 1), ("socketTimeout", 1000)),
    quote_open="[",
    quote_close="]",
    default_schema="dbo",
    type_overrides={
        "real": "FLOAT",
        "money": "FLOAT",
        "smallmoney": "FLOAT",
        # MSSQL DATETIMEOFFSET keeps a zone — still DATETIME in the
        # 5-type collapse, matching the reference's TIMESTAMP handling
        "datetimeoffset": "DATETIME",
    },
)

DERBY = JdbcDialect(
    name="derby",
    default_port=1527,
    driver="org.apache.derby.jdbc.EmbeddedDriver",
    quote_open='"',
    quote_close='"',
    default_schema="APP",
)

DIALECTS: dict[str, JdbcDialect] = {
    d.name: d for d in (MYSQL, POSTGRESQL, MSSQL, DERBY)
}


def dialect_for_url(url: str) -> JdbcDialect | None:
    """Infer the dialect from a JDBC URL prefix (``jdbc:mysql:...``)."""
    m = re.match(r"jdbc:([a-z]+):", url or "")
    if not m:
        return None
    scheme = {"sqlserver": "mssql"}.get(m.group(1), m.group(1))
    return DIALECTS.get(scheme)
