"""robots.txt parsing and crawl-frontier matching (RFC 9309) — the
politeness gate every crawl scheduler runs between link discovery
(x50's frontier) and the fetch queue: a URL only enters the queue if
the origin host's robots.txt allows it for our product token.

The parser is stdlib-only and spec-driven (RFC 9309, "Robots
Exclusion Protocol"):

* **Group selection** (§2.2.1): a group is one or more ``User-agent``
  lines followed by rules; several agent lines may stack onto the
  same group. The crawler obeys the group(s) whose agent token
  matches its own product token case-insensitively and EXACTLY; the
  ``*`` groups apply only when no specific group matched. Matching
  groups merge. A group-selection bug is catastrophic in both
  directions (obeying another crawler's ``Disallow: /`` silences the
  whole host; missing your own block is a compliance breach), so the
  x51 fixture gives every host a decoy ``otherbot`` group with
  ``Disallow: /``.
* **Rule matching** (§2.2.2): a rule path is a literal octet prefix
  plus two metacharacters — ``*`` (any octet run) and a trailing
  ``$`` (end anchor). The most specific match wins, specificity =
  octet length of the rule path as written; on an allow/disallow tie
  ``Allow`` wins. No matching rule → allowed. Empty rule paths are
  ignored (``Disallow:`` with nothing = allow all, the historical
  idiom).
* **Lexing** (§2.1): lines split on CR/LF, ``#`` starts a comment,
  directive names are case-insensitive, unknown directives are
  ignored — rules after one still belong to the open group, but
  agent lines stack onto a group only when adjacent (any other line
  in between starts a new group on the next ``User-agent``, the
  de-facto reference-parser behavior).
* **Control-plane extensions**: ``Sitemap:`` URLs surface GLOBALLY
  (the sitemaps.org protocol scopes them to the file, not a group) —
  they bootstrap the x54 discovery channel; ``Crawl-delay:`` is
  group-scoped like a rule (the Bing/Yandex extension) and only the
  SELECTED group's value surfaces, several merging to the maximum
  (most conservative politeness). See :func:`parse_robots_full`.

The parser returns plain ``(verb, path)`` rules so the Spark side
stays declarative: :func:`robots_rules` adds each rule's specificity
and anchored regex, a caller turns them into a tiny per-host rules
DataFrame (a robots file is ~KB and one per host, dwarfed by any
frontier), and :func:`robots_verdict` gates a frontier against it:
a broadcast hash join on host, a per-row ``regexp_like`` against the
rule's regex, and a ``max(struct(...))`` aggregate per URL key that
picks the winning rule. Nothing in the match path is Python, and the
aggregate is map-side combinable, so at crawl scale the gate is one
broadcast join plus one partial aggregate over (url, rule)
candidates.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Regex metacharacters to escape when translating a rule path to a
#: regex. ``*`` is the RFC's own wildcard and is handled structurally,
#: so it is NOT in this set. ``$`` IS in the set: RFC 9309 gives it
#: meaning only as the FINAL octet of a rule path (the end anchor,
#: special-cased before the escape loop runs); anywhere else it is a
#: literal path octet and must be escaped, or a rule like
#: ``Disallow: /a$b`` would compile to ``^/a$b`` — a regex that can
#: never match in Java/RE2/Python, silently turning the rule into a
#: no-op and letting the crawler fetch disallowed URLs.
_RX_META = ".^+?()[]{}|\\$"


def rule_regex(path: str) -> str:
    """Translate an RFC 9309 rule path to an anchored regex in the
    Java∩RE2∩Python subset (the same engine-portability contract as
    text.py's shared patterns): escape literals (including mid-path
    ``$``), ``*`` → ``.*``, a trailing ``$`` → the regex end anchor.
    The regex is start-anchored (rule paths match from the first path
    octet)."""
    anchored = path.endswith("$")
    body = path[:-1] if anchored else path
    out = []
    for ch in body:
        if ch in _RX_META:
            out.append("\\" + ch)
        elif ch == "*":
            out.append(".*")
        else:
            out.append(ch)
    return "^" + "".join(out) + ("$" if anchored else "")


#: Crawl-delay values are non-negative seconds, integer or decimal;
#: anything else on the line is a typo and the directive is skipped.
_DELAY_RX = re.compile(r"^\d+(\.\d+)?$")


def parse_robots_full(body: str, agent: str) -> dict:
    """Parse a robots.txt body into everything the control plane
    consumes, keyed to ``agent`` (our product token):

    * ``"rules"`` — the merged ``[(verb, path), ...]`` list exactly
      as :func:`parse_robots` returns it;
    * ``"sitemaps"`` — every ``Sitemap:`` URL in file order. The
      directive is GLOBAL per the sitemaps.org protocol (it is valid
      anywhere in the file and is not scoped to a group), so all of
      them surface regardless of group selection — they feed the
      x54 ingestion channel;
    * ``"crawl_delay"`` — the ``Crawl-delay:`` seconds from the
      SELECTED group(s) (the de-facto Bing/Yandex extension is
      group-scoped like a rule), or None when no selected group
      declares one. Several selected groups declaring different
      delays merge to the MAXIMUM — the most conservative politeness
      wins. A decoy group's delay never surfaces.

    Group selection is RFC 9309 (§2.2.1): specific-token groups beat
    ``*`` groups; several matching groups merge; agent tokens match
    case-insensitively and exactly. Rules before any ``User-agent``
    line, rules with empty paths, unknown directives, and malformed
    delay values are ignored. Never raises on text input — a
    malformed line is skipped, not fatal (robots.txt in the wild is
    full of typos, and a crawler that crashes on one is worse than
    one that skips it)."""
    agent_lc = agent.lower()
    # groups: (set_of_agent_tokens, [(verb, path), ...], [delays])
    groups: list[tuple[set, list, list]] = []
    open_agents: set | None = None  # agent lines stacking onto a group
    sitemaps: list[str] = []
    for raw in re.split(r"\r\n|\r|\n", body):
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if ":" not in line:
            continue  # malformed line: skipped, group state unchanged
        name, _, value = line.partition(":")
        name = name.strip().lower()
        value = value.strip()
        if name == "user-agent":
            if not value:
                continue
            if open_agents is None:
                open_agents = {value.lower()}
                groups.append((open_agents, [], []))
            else:
                open_agents.add(value.lower())
            continue
        if name in ("allow", "disallow"):
            # a rule closes the agent-line stack: the next User-agent
            # starts a NEW group rather than joining this one
            if groups:
                groups[-1][1].append((name, value))
            open_agents = None
            continue
        if name == "sitemap":
            # global: surfaces from anywhere in the file; still
            # closes the agent-line stack like any non-agent line
            if value:
                sitemaps.append(value)
            open_agents = None
            continue
        if name == "crawl-delay":
            # group-scoped like a rule (the Bing/Yandex extension)
            if groups and _DELAY_RX.match(value):
                groups[-1][2].append(float(value))
            open_agents = None
            continue
        # unknown directive: the rule list stays open (a later
        # Allow/Disallow still joins this group) but the agent-line
        # stack closes, like a rule closes it
        open_agents = None
    if any(agent_lc in agents for agents, _, _ in groups):
        selected = [g for g in groups if agent_lc in g[0]]
    else:
        selected = [g for g in groups if "*" in g[0]]
    merged = [r for _, rules, _ in selected for r in rules]
    delays = [d for _, _, ds in selected for d in ds]
    return {
        "rules": [(v, p) for v, p in merged if p],
        "sitemaps": sitemaps,
        "crawl_delay": max(delays) if delays else None,
    }


def parse_robots(body: str, agent: str) -> list[tuple[str, str]]:
    """The rules-only view of :func:`parse_robots_full` — the merged
    ``[(verb, path), ...]`` list that applies to ``agent``, fixture
    order preserved, verb in ``{"allow", "disallow"}``."""
    return parse_robots_full(body, agent)["rules"]


def robots_rules(body: str, agent: str) -> list[tuple[str, str, int, str]]:
    """``parse_robots`` + the match metadata the engine joins on:
    ``(verb, path, specificity, anchored_regex)`` per rule, where
    specificity is the RFC's octet length of the path as written
    (``*`` and ``$`` count — they are octets of the rule)."""
    return [
        (verb, path, len(path), rule_regex(path))
        for verb, path in parse_robots(body, agent)
    ]


def robots_verdict(
    frontier: DataFrame, rules: DataFrame, keys: list[str]
) -> DataFrame:
    """The robots gate over a crawl frontier: ``frontier`` plus
    ``allowed`` (boolean) and ``rule`` (the winning rule's path as
    written, ``''`` when no rule matched).

    ``frontier`` carries the URL's host key ``h`` and its
    path-and-query ``path``; ``keys`` identify one frontier URL (they
    must be unique per row). ``rules`` holds one row per (host, rule)
    with the columns ``h``, ``verb``, ``pattern``, ``plen`` and ``rx``
    -- the :func:`robots_rules` tuples keyed by host.

    Rules join on host as a broadcast, match with ``regexp_like(path,
    rx)``, and the winner per URL is ``max(struct(plen, allow_pref,
    pattern, verb))``: the longest rule wins, ``Allow`` wins a length
    tie (RFC 9309 §2.2.2), and the pattern breaks any remaining tie
    deterministically. URLs no rule matches are allowed with
    ``rule = ''``; the winners left-join back on ``keys``."""
    matched = (
        frontier.select(*keys, "h", "path")
        .join(F.broadcast(rules), "h")
        .where(F.regexp_like(F.col("path"), F.col("rx")))
    )
    best = matched.groupBy(*keys).agg(
        F.max(
            F.struct(
                F.col("plen"),
                (F.col("verb") == "allow").cast("int").alias("allow_pref"),
                F.col("pattern"),
                F.col("verb"),
            )
        ).alias("__w")
    )
    return frontier.join(best, keys, "left").select(
        *frontier.columns,
        (F.coalesce(F.col("__w.verb"), F.lit("allow")) == "allow").alias(
            "allowed"
        ),
        F.coalesce(F.col("__w.pattern"), F.lit("")).alias("rule"),
    )
