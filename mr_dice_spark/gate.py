"""Read-only SQL entry point: security gate + LIMIT override.

Mirrors the reference's ``fetch_mofs_sql`` surface
(mofdbsql_database/Mofdb_Server/server.py:57-62): arbitrary SELECT/WITH SQL
is accepted, everything else rejected, and the caller's ``n_results`` caps
the result regardless of any LIMIT inside the statement.

Security gate parity (mofdbsql_database/Mofdb_Server/utils.py:23-50):
SELECT/WITH-only plus a mutation-keyword denylist. On Spark we get a second,
structural layer for free: statements run against read-only temp views, and
we additionally verify the *parsed* plan is a pure query (no
Command/CTAS/insert nodes), which is stronger than the reference's regex
check.

LIMIT override parity (mofdbsql_database/Mofdb_Server/server.py:103-117):
the reference regex-injects/overrides ``LIMIT n_results``. We express it
relationally: ``spark.sql(sql).limit(n_results)`` — a ``LIMIT
min(user_limit, n_results)`` wrapper that Catalyst pushes down
(CollectLimitExec short-circuits the scan).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from mr_dice_spark.envelope import FetchResult, error, wrap

# Keyword denylist, same spirit as the reference's validate_sql_security
# (mofdbsql_database/Mofdb_Server/utils.py:23-50).
_FORBIDDEN = (
    "insert",
    "update",
    "delete",
    "drop",
    "create",
    "alter",
    "truncate",
    "replace",
    "merge",
    "grant",
    "revoke",
    "attach",
    "detach",
    "vacuum",
    "pragma",
    "commit",
    "rollback",
)

_WORD = re.compile(r"[a-zA-Z_]+")


class SqlSecurityError(ValueError):
    pass


def _strip_strings_and_comments(sql: str) -> str:
    """Replace string literals and comments with spaces so keyword scanning
    can't be fooled by (or false-positive on) quoted text. Spaces (not
    deletion) keep surrounding tokens separated (``SELECT/*x*/1``)."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n:
                if sql[i] == "'" and i + 1 < n and sql[i + 1] == "'":
                    i += 2
                elif sql[i] == "'":
                    i += 1
                    break
                else:
                    i += 1
            out.append(" ")
        elif c == '"':
            i += 1
            while i < n and sql[i] != '"':
                i += 1
            i += 1
            out.append(" ")
        elif c == "-" and sql[i : i + 2] == "--":
            while i < n and sql[i] != "\n":
                i += 1
            out.append(" ")
        elif c == "/" and sql[i : i + 2] == "/*":
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
            out.append(" ")
        else:
            out.append(c)
            i += 1
    return "".join(out)


def validate_sql_security(sql: str) -> str:
    """Raise SqlSecurityError unless ``sql`` is a single SELECT/WITH query.

    Returns the ORIGINAL statement (trailing semicolon/whitespace trimmed) —
    the scan runs on a literal/comment-masked copy, but that copy is never
    what gets executed.
    """
    original = sql.strip().rstrip(";").strip()
    masked = _strip_strings_and_comments(original).strip()
    if not masked:
        raise SqlSecurityError("empty SQL statement")
    if ";" in masked:
        raise SqlSecurityError("multiple SQL statements are not allowed")
    head = masked.split(None, 1)[0].lower()
    if head not in ("select", "with"):
        raise SqlSecurityError(f"only SELECT/WITH queries are allowed, got {head!r}")
    words = {w.lower() for w in _WORD.findall(masked)}
    hit = sorted(words & set(_FORBIDDEN))
    if hit:
        raise SqlSecurityError(f"forbidden keyword(s): {', '.join(hit)}")
    return original


def _assert_pure_query(spark: SparkSession, sql: str) -> None:
    """Structural second layer: the parsed logical plan must be a query.

    ``spark.sql`` on a command (SET/CREATE/...) yields a plan whose root is a
    Command node; reject those even if the keyword scan was evaded.

    Uses the JVM parser via the classic-session handle; under Spark
    Connect that handle does not exist, so this layer degrades to a no-op
    and the keyword gate (which already ran) remains the enforcement — a
    valid SELECT must never be rejected just because the session is
    Connect-backed.
    """
    try:
        jsession = spark._jsparkSession
    except Exception:
        return
    plan = jsession.sessionState().sqlParser().parsePlan(sql)
    cls = plan.getClass().getName()
    if "Command" in cls or "Insert" in cls:
        raise SqlSecurityError(f"statement parses to non-query plan {cls}")


def fetch_sql(
    spark: SparkSession,
    sql: str,
    n_results: int = 10,
) -> FetchResult:
    """Validated read-only SQL execution with result-cap semantics.

    Returns the reference's envelope: code 0 / -1 (rejected or failed) /
    -9999 (zero rows).
    """
    try:
        clean = validate_sql_security(sql)
        _assert_pure_query(spark, clean)
        df: DataFrame = spark.sql(clean).limit(n_results)
        return wrap(df, max_rows=n_results)
    except SqlSecurityError as exc:
        return error(f"rejected: {exc}")
    except Exception as exc:  # noqa: BLE001 — envelope contract: never raise
        return error(f"query failed: {exc}")
