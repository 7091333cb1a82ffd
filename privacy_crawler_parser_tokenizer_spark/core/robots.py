"""Minimal robots.txt parser + allow/deny gate.

The reference crawler has NO robots handling — this is a north-rule
[NEW] capability (SURVEY.md §2.2).  Implements the common subset of the
Robots Exclusion Protocol (RFC 9309): ``User-agent`` groups,
``Allow``/``Disallow`` prefix rules, longest-match-wins with Allow
preferred on ties, ``*`` wildcard and ``$`` end-anchor in rule paths.
Deterministic and dependency-free so the oracle and the Spark gate share
it verbatim.
"""

from __future__ import annotations

import re


class RobotsPolicy:
    __slots__ = ("rules",)

    def __init__(self, rules: list[tuple[bool, str]]):
        # rules: (is_allow, path_pattern) for the matched UA group
        self.rules = rules

    def allows(self, path: str) -> bool:
        if not path.startswith("/"):
            path = "/" + path
        best_len = -1
        best_allow = True
        for is_allow, pattern in self.rules:
            plen = _match_len(pattern, path)
            if plen < 0:
                continue
            # longest pattern wins; Allow wins ties
            if plen > best_len or (plen == best_len and is_allow and not best_allow):
                best_len = plen
                best_allow = is_allow
        return best_allow


def _match_len(pattern: str, path: str) -> int:
    """Length of the pattern if it matches the path prefix, else -1.
    Supports '*' and terminal '$'."""
    if not pattern:
        return -1
    if "*" in pattern or pattern.endswith("$"):
        rx = re.escape(pattern).replace(r"\*", ".*")
        if rx.endswith(r"\$"):
            rx = rx[:-2] + "$"
        return len(pattern) if re.match(rx, path) else -1
    return len(pattern) if path.startswith(pattern) else -1


def parse_robots(content: str, user_agent: str = "*") -> RobotsPolicy:
    """Parse robots.txt, returning the rule group for ``user_agent``
    (exact token match, falling back to the ``*`` group)."""
    groups: dict[str, list[tuple[bool, str]]] = {}
    current_agents: list[str] = []
    last_was_agent = False
    # a leading UTF-8 BOM would turn the first key into "\ufeffuser-agent"
    # and drop its group, reading the file as allow-all
    for raw in (content or "").removeprefix("\ufeff").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not last_was_agent:
                current_agents = []
            current_agents.append(value.lower())
            for a in current_agents:
                groups.setdefault(a, [])
            last_was_agent = True
        elif key in ("allow", "disallow"):
            last_was_agent = False
            if not value and key == "disallow":
                continue  # empty Disallow = allow all (no rule)
            for a in current_agents:
                groups.setdefault(a, []).append((key == "allow", value))
        else:
            last_was_agent = False
    ua = user_agent.lower()
    rules = groups.get(ua, groups.get("*", []))
    return RobotsPolicy(rules)


def robots_allows(robots_txt: str | None, path: str,
                  user_agent: str = "*") -> bool:
    """Convenience gate: None/empty robots.txt allows everything."""
    if not robots_txt:
        return True
    return parse_robots(robots_txt, user_agent).allows(path)


def url_path(url: str) -> str:
    """Path+query portion of a URL for robots matching."""
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:\/\/[^\/]*(\/.*)?$", url)
    if m:
        return m.group(1) or "/"
    slash = url.find("/")
    return url[slash:] if slash >= 0 else "/"
