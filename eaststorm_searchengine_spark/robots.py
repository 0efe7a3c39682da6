"""robots.txt parsing + politeness arithmetic — parity with the
reference crawler's ``Crawler.Robots`` (``jobs/Crawler.java:509-596``)
and per-host delay gate (``:365-371``).

Pure functions (the KVS-caching / HTTP-fetching wrapper around them is
transport, out of engine scope per SURVEY §2.1).  Parse semantics are
reproduced line-for-line and golden-tested against the compiled
reference class via reflection (tests/golden 'robots' mode):

* lines are ``#``-comment-stripped then Java-trimmed
* ``User-agent:`` opens a section (lowercased agent name); directives
  before any section are ignored
* the crawler's own UA section wins, else ``*``, else no rules
* ``Allow:`` / ``Disallow:`` keep file order; ``allows()`` returns the
  FIRST rule whose prefix matches (empty prefix matches everything);
  empty ``Disallow:`` means allow-all; default allow
* ``Crawl-delay: s`` → ``Math.round(s*1000)`` ms, max over repeats,
  -1 when absent
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

UA = "cis5550-crawler"  # reference UA constant (Crawler.java:22)
DEFAULT_DELAY_MS = 1000  # politeness default (Crawler.java:365)

from .textproc import java_trim


@dataclass
class Robots:
    rules: list[tuple[bool, str]] = field(default_factory=list)  # (allow, prefix)
    delay_ms: int = -1

    def allows(self, path: str | None) -> bool:
        """First-match-wins prefix rules (Crawler.java:517-524)."""
        p = path if path else "/"
        for allow, prefix in self.rules:
            if prefix == "":
                return allow
            if p.startswith(prefix):
                return allow
        return True


def parse_robots(txt: str | None, ua: str = UA) -> Robots:
    """Mirror of ``Robots.parse`` (Crawler.java:556-596)."""
    if txt is None:
        return Robots()
    by_ua: dict[str, list[str]] = {}
    cur: list[str] | None = None
    for raw in txt.split("\n"):
        line = java_trim(raw.split("#", 1)[0])
        if not line:
            continue
        low = line.lower()
        if low.startswith("user-agent:"):
            name = java_trim(line[11:]).lower()
            cur = by_ua.setdefault(name, [])
        elif cur is not None:
            cur.append(line)

    chosen = by_ua.get(ua.lower(), by_ua.get("*", []))

    delay = -1
    rules: list[tuple[bool, str]] = []
    for line in chosen:
        low = line.lower()
        if low.startswith("allow:"):
            rules.append((True, java_trim(line[6:])))
        elif low.startswith("disallow:"):
            pre = java_trim(line[9:])
            rules.append((True, "") if pre == "" else (False, pre))
        elif low.startswith("crawl-delay:"):
            delay = max(delay, _java_round_ms(java_trim(line[12:])))
    return Robots(rules, delay)


_LONG_MAX = (1 << 63) - 1
_LONG_MIN = -(1 << 63)


def _java_round_ms(raw: str) -> int:
    """``Math.round(Double.parseDouble(raw) * 1000.0)`` parity,
    including the hostile corners: ``Infinity`` →
    Long.MAX_VALUE, ``NaN`` → 0 — Python's ``math.floor(inf + 0.5)``
    would raise OverflowError and crash the driver-side robots gate.
    Returns -1 (= "absent") for strings Java's parseDouble rejects;
    Java's special forms are case-SENSITIVE (exactly ``NaN`` /
    ``Infinity``) while Python ``float()`` accepts ``inf``/``nan`` in
    any case — the extra spellings are rejected explicitly."""
    body = raw[1:] if raw[:1] in "+-" else raw
    if body == "NaN":
        return 0  # Java Math.round(NaN) == 0
    if body == "Infinity":
        return _LONG_MIN if raw.startswith("-") else _LONG_MAX
    if body.lower() in ("inf", "infinity", "nan"):
        return -1  # spellings Java's parseDouble rejects
    if "_" in body:
        return -1  # PEP-515 underscores: Python-only, Java rejects
    # Java's grammar also accepts a trailing f/F/d/D type suffix and
    # hex-float literals (0x1.8p1) — but ONLY on the numeric
    # production: 'NaNd' / 'Infinityf' are rejected by parseDouble
    num = raw
    if body[-1:] in "fFdD" and (
        not body.lower().startswith("0x") or "p" in body.lower()
    ):
        num = raw[:-1]
        body = body[:-1]
        # a special spelling left behind after stripping means the
        # original was a suffixed NaN/Infinity — Java rejects those
        # (and float('NaN') here would leak a nan into Math.round)
        if body.lower() in ("nan", "infinity", "inf") or not body:
            return -1
    try:
        if body.lower().startswith("0x"):
            # Java requires the binary exponent; float.fromhex doesn't
            if "p" not in body.lower():
                return -1
            try:
                s = float.fromhex(num)
            except OverflowError:
                # parseDouble overflows hex literals to ±Infinity;
                # fromhex raises instead (the decimal path's float()
                # already returns inf for e.g. 1e999)
                s = float("-inf") if raw.lstrip().startswith("-") else float("inf")
        else:
            s = float(num)
    except (ValueError, OverflowError):
        return -1
    if math.isnan(s):
        return -1  # defensive: only Java-rejected spellings reach here as nan
    x = s * 1000.0
    if x >= _LONG_MAX:
        return _LONG_MAX
    if x <= _LONG_MIN:
        return _LONG_MIN
    # Java Math.round = floor(x + 0.5), not banker's rounding
    return math.floor(x + 0.5)


def politeness_ready(now_ms: int, last_ms: int, robots_delay_ms: int) -> bool:
    """Per-host delay gate (Crawler.java:365-371): effective delay is
    the robots Crawl-delay when present, else 1000 ms; a host with no
    recorded last-fetch is always ready."""
    delay = robots_delay_ms if robots_delay_ms >= 0 else DEFAULT_DELAY_MS
    return last_ms <= 0 or (now_ms - last_ms) >= delay
