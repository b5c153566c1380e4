"""Robots Exclusion Protocol (RFC 9309) as data + relational ops —
the crawl-compliance filter every web-corpus pipeline runs before
fetching or keeping a URL.

Same design as the PSL module (`pipeline/psl.py`): the *rules* are
data (one row per Allow/Disallow line, parsed once from robots.txt
bodies), and the *matching* is a plain relational plan — a
domain-keyed join, a LIKE predicate per candidate rule, and a MAX
over an integer precedence key. No UDFs; the DuckDB oracle replays
the identical expressions.

RFC 9309 semantics implemented (§2.2):

- **group selection**: a crawler obeys the group(s) whose
  ``User-agent`` line matches its product token (case-insensitive,
  exact token here); if none match, the ``*`` group applies; if
  neither exists, everything is allowed;
- **rule matching**: a rule's path pattern matches from the first
  octet of the path; ``*`` matches any run of octets, ``$`` at the
  end anchors the match to the path end;
- **precedence**: the MOST SPECIFIC match wins — longest path
  pattern in octets (the ``$`` anchor does not count); on a length
  tie, Allow wins (§2.2.2);
- **default**: no matching rule -> allowed; an empty ``Disallow:``
  line means allow-all and produces no rule row.

Reference: RFC 9309 (Koster et al., 2022), the public REP spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_robots_txt", "robots_like_pattern",
           "rule_specificity", "robots_rules_df",
           "with_robots_verdict", "ROBOTS_RULE_SCHEMA"]

ROBOTS_RULE_SCHEMA = ("domain string, agent string, is_allow int, "
                      "pattern string, spec int")


def parse_robots_txt(text: str) -> list[tuple[str, int, str]]:
    """Parse one robots.txt body into ``(agent, is_allow, rule)``
    rows (agent lower-cased, rule the raw path pattern).

    Grouping follows RFC 9309 §2.2.1: consecutive ``User-agent``
    lines open ONE group that every following rule line belongs to;
    a ``User-agent`` line after rule lines starts a new group.
    Unknown directives and comments (``#`` to end of line) are
    ignored; a ``Disallow:`` with an empty value is allow-all and
    yields no row. A rule line before any ``User-agent`` line is
    ignored (no group to attach to).
    """
    rows: list[tuple[str, int, str]] = []
    agents: list[str] = []
    in_group_rules = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_group_rules:
                agents = []
                in_group_rules = False
            agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_group_rules = True
            if not val:
                continue
            for a in agents:
                rows.append((a, 1 if key == "allow" else 0, val))
    return rows


def rule_specificity(rule: str) -> int:
    """RFC 9309 §2.2.2 precedence: octet length of the path pattern;
    the ``$`` anchor is syntax, not path octets."""
    return len(rule[:-1]) if rule.endswith("$") else len(rule)


def robots_like_pattern(rule: str) -> str:
    """Compile a REP path pattern to a SQL LIKE pattern (escape
    ``\\``): literal ``%``/``_``/``\\`` escaped, ``*`` -> ``%``,
    a trailing unescaped ``$`` anchors (no trailing ``%``)."""
    anchored = rule.endswith("$")
    body = rule[:-1] if anchored else rule
    out = []
    for ch in body:
        if ch in ("\\", "%", "_"):
            out.append("\\" + ch)
        elif ch == "*":
            out.append("%")
        else:
            out.append(ch)
    pat = "".join(out)
    return pat if anchored else pat + "%"


def robots_rules_df(spark, bodies: list[tuple[str, str]]) -> DataFrame:
    """Compile ``(domain, robots_txt_body)`` pairs into the rules
    frame ``(domain, agent, is_allow, pattern, spec)`` — parsed and
    pattern-compiled driver-side (robots bodies are KB-sized,
    one per domain; the output is broadcast-scale per domain)."""
    rows = []
    for domain, body in bodies:
        for agent, is_allow, rule in parse_robots_txt(body):
            rows.append((domain, agent, is_allow,
                         robots_like_pattern(rule),
                         rule_specificity(rule)))
    return spark.createDataFrame(rows, ROBOTS_RULE_SCHEMA)


def with_robots_verdict(df: DataFrame, rules: DataFrame,
                        agent: str) -> DataFrame:
    """Append ``allowed`` (boolean) to a ``(domain, path)`` frame
    under RFC 9309 semantics for ``agent``.

    Plan shape: one row per (domain, agent-group flag) decides which
    group applies (a domain-keyed aggregate of the rules frame —
    broadcast-scale), then ONE equi-join on domain meets each URL
    with its applicable rules, the LIKE predicate keeps matches, and
    a MAX over ``spec * 2 + is_allow`` picks the winner (longest
    pattern, Allow on ties — the integer key encodes exactly the RFC
    precedence). URLs with no matching rule (or no rules at all)
    default to allowed via the left join.

    Input cardinality is preserved EXACTLY: each input row gets its
    own verdict keyed by a per-row id, so duplicate (domain, path)
    rows — a normal crawl occurrence — come out as duplicates, never
    collapsed by the aggregate. Rules columns ride internal
    ``__rb_*`` names so the input frame may carry columns named
    ``pattern``/``spec``/``is_allow`` without collision (``__rb_*``
    itself is reserved and rejected).
    """
    bad = [c for c in df.columns if c.startswith("__rb_")]
    if bad:
        raise ValueError(
            f"with_robots_verdict: input columns {bad} collide with "
            "the reserved __rb_* namespace")
    a = agent.lower()
    grp = rules.groupBy("domain").agg(
        F.max(F.when(F.col("agent") == a, 1).otherwise(0))
        .alias("__rb_exact"))
    applicable = (
        rules.join(grp, on="domain")
        .filter((F.col("agent") == a)
                | ((F.col("agent") == "*")
                   & (F.col("__rb_exact") == 0)))
        .select(F.col("domain"),
                F.col("is_allow").alias("__rb_allow"),
                F.col("pattern").alias("__rb_pattern"),
                F.col("spec").alias("__rb_spec")))
    win = ("CASE WHEN __rb_pattern IS NOT NULL"
           " AND path LIKE __rb_pattern ESCAPE '\\\\'"
           " THEN __rb_spec * 2 + __rb_allow END")
    keyed = df.withColumn("__rb_rid", F.monotonically_increasing_id())
    matched = (
        keyed.join(applicable, on="domain", how="left")
        .groupBy("__rb_rid", *df.columns)
        .agg(F.expr(f"max({win})").alias("__rb_win")))
    return matched.withColumn(
        "allowed", F.expr("__rb_win IS NULL OR __rb_win % 2 = 1")
    ).drop("__rb_win", "__rb_rid")
