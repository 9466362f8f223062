"""RFC 9309 robots.txt evaluation — the crawl-time half of REP.

`with_robots_flags` (webtext.py) honors the page-level
``<meta name=robots>`` opt-out; this module honors the server-level
robots.txt. Reference analog: none — the reference ingests prepared
datasets; this is the responsible-crawling edge a Common-Crawl-scale
pipeline needs (RefinedWeb §3.1 / CCNet both assume REP-compliant
input).

Scale shape: robots.txt is PER DOMAIN (~10^7 rows) while pages are
~10^12, so parsing runs as one Arrow stage over the small frame and
compiles each domain's rules into an array<struct<rx, plen, allow>>;
the verdict join broadcasts that table and resolves longest-match
entirely in JVM higher-order functions (filter + transform +
array_max over a (plen, allow) struct) — no page url ever crosses to
Python, and the per-page cost is a regex probe per rule of ITS domain
only.

RFC 9309 semantics implemented:
  - groups = runs of User-agent lines + the rules that follow; a
    non-group line ends the agent run; later User-agent lines start a
    new group;
  - group selection: exact product-token match beats '*'; all equally
    specific groups merge;
  - '*' wildcards and the '$' end anchor in path patterns;
  - longest (most-octets) pattern wins; Allow beats Disallow on ties
    (encoded as array_max over struct(plen, allow));
  - empty Disallow = no rule; a domain with no robots.txt (left join
    miss) or an unparsable one allows everything;
  - the match target is path + '?' + query, per the RFC.
"""

from __future__ import annotations

import re
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import row_stage

RULES_SCHEMA = (
    "domain string, rules array<struct<rx:string,plen:int,allow:boolean>>"
)


def compile_pattern(pat: str) -> str:
    """robots.txt path pattern -> anchored Java/RE2-safe regex:
    escape everything, then '*' -> '.*'; a trailing '$' anchors."""
    anchored = pat.endswith("$")
    core = pat[:-1] if anchored else pat
    rx = re.escape(core).replace(r"\*", ".*")
    return "^" + rx + ("$" if anchored else "")


def parse_robots_txt(txt: str, agent: str = "*") -> list[tuple[str, int, bool]]:
    """One robots.txt -> [(regex, specificity, allow)] for `agent`.

    Specificity is the octet length of the RAW pattern (RFC 9309 §2.2.2
    "most specific match ... based on the length"). Group selection per
    the RFC: if any group names `agent` exactly (case-insensitive), the
    union of those groups applies and '*' groups are IGNORED; otherwise
    the '*' groups apply."""
    agent = agent.lower()
    groups: list[tuple[set, list]] = []
    cur_agents: set = set()
    cur_rules: list = []
    in_agents = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_agents and (cur_agents or cur_rules):
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = set(), []
            cur_agents.add(val.lower())
            in_agents = True
        elif key in ("allow", "disallow"):
            in_agents = False
            if val:  # empty Disallow = allow everything = no rule
                cur_rules.append((val, key == "allow"))
        else:  # crawl-delay / sitemap / unknown: ends an agent-line run
            in_agents = False
    if cur_agents or cur_rules:
        groups.append((cur_agents, cur_rules))
    exact = [g for g in groups if agent in g[0]]
    chosen = exact if exact else [g for g in groups if "*" in g[0]]
    return [(compile_pattern(pat), len(pat), allow)
            for _, rules in chosen for pat, allow in rules]


def compile_robots(robots: DataFrame, agent: str = "*",
                   domain_col: str = "domain",
                   txt_col: str = "robots_txt") -> DataFrame:
    """(domain, robots_txt) -> (domain, rules) via one Arrow stage.
    Unparsable texts compile to an empty rule array (allow-all) — the
    RFC's failure posture, never a dropped domain."""
    def _compile(dom, txt):
        try:
            rules = parse_robots_txt(str(txt), agent)
        except Exception:
            rules = []
        yield dom, rules

    return row_stage(robots.select(domain_col, txt_col), _compile, RULES_SCHEMA)


def with_robots_verdict(pages: DataFrame, rules: DataFrame,
                        url_col: str = "url",
                        out_col: str = "robots_txt_allowed") -> DataFrame:
    """Pages + compiled per-domain rules -> pages + boolean verdict.

    JVM-only resolution: broadcast-join the small rules table on the
    parsed host, probe each rule regex against path?query with a
    higher-order filter, then array_max over struct(plen, allow) —
    Spark's struct ordering is field-lexicographic, which IS the RFC's
    "longest pattern, Allow wins ties" rule. No match / no robots.txt
    -> allowed."""
    u = F.col(url_col)
    path = F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit(""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.parse_url(u, F.lit("QUERY"))
    target = F.when(query.isNotNull(),
                    F.concat(path, F.lit("?"), query)).otherwise(path)
    out = (pages
           .withColumn("domain", F.parse_url(u, F.lit("HOST")))
           .withColumn("_rtarget", target)
           .join(F.broadcast(rules), "domain", "left"))
    matched = F.expr("filter(rules, r -> _rtarget rlike r.rx)")
    best = F.array_max(F.expr(
        "transform(filter(rules, r -> _rtarget rlike r.rx), "
        "r -> struct(r.plen as plen, r.allow as allow))"))
    allowed = (F.when(F.col("rules").isNull(), F.lit(True))
               .when(F.size(matched) == 0, F.lit(True))
               .otherwise(best["allow"]))
    return out.withColumn(out_col, allowed).drop("_rtarget", "rules")
