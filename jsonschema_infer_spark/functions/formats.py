"""Built-in string format detectors.

Reference parity: `/root/reference/node.go:315-374` and the registry order in
`/root/reference/jsonschema.go:44-53` (date-time, email, uuid, ipv6, ipv4,
uri — priority = registration order; the emitted ``format`` is the FIRST
surviving candidate, node.go:248-255).

Each detector exists in two forms:
- scalar ``(str) -> bool`` — exact Go-stdlib-equivalent semantics, used by
  the local fold and as the ground truth for tests;
- vectorized ``(pd.Series[str]) -> pd.Series[bool]`` — used inside the
  Arrow-batch partition fold; must agree with the scalar form bit-for-bit
  (property-tested in tests/test_formats.py).

The Go detectors use stdlib parsers (time.Parse, net.ParseIP, url.Parse);
the notes on each function below record the exact acceptance set replicated.
"""

from __future__ import annotations

import calendar
import re
from urllib.parse import urlsplit

import numpy as np
import pandas as pd

# --- regexes -----------------------------------------------------------------

# RFC 5322 simplified, exactly the reference's pattern (node.go:14)
_EMAIL_RE = re.compile(r"^[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}$")

# UUID v1-v5 (node.go:17)
_UUID_RE = re.compile(
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[1-5][0-9a-fA-F]{3}"
    r"-[89abAB][0-9a-fA-F]{3}-[0-9a-fA-F]{12}$"
)

# RFC 3339 shape (Go time.RFC3339 / RFC3339Nano layouts, node.go:317-327).
# Go's time.Parse with these layouts requires: 4-digit year, literal 'T',
# 'Z' or ±hh:mm offset; RFC3339Nano additionally allows '.' + >=1 fractional
# digits. Lowercase 't'/'z' are accepted by RFC 3339 the spec but NOT by
# Go's layout-based parse ('T' and 'Z' are literals in the layout string).
_RFC3339_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(\.\d+)?(Z|[+-]\d{2}:\d{2})$"
)

# Go net.ParseIP IPv4: exactly 4 dot-separated decimal octets 0-255, no
# leading zeros (Go rejects "010.0.0.1" since 1.17 — CVE-2021-29923 fix).
_IPV4_RE = re.compile(
    r"^(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
    r"(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}$"
)


def _valid_rfc3339_fields(y: int, mo: int, d: int, h: int, mi: int, s: int,
                          off: str) -> bool:
    if not (1 <= mo <= 12):
        return False
    if not (1 <= d <= calendar.monthrange(y, mo)[1]):
        return False
    if h > 23 or mi > 59 or s > 59:  # Go rejects leap second 60 in Parse
        return False
    if off != "Z":
        oh, om = int(off[1:3]), int(off[4:6])
        if oh > 23 or om > 59:
            return False
    return True


def is_date_time(value: str) -> bool:
    """RFC 3339 / RFC 3339-nano, Go time.Parse semantics (node.go:317-327).

    Shortest valid value is 20 chars ("2006-01-02T15:04:05Z").
    """
    if len(value) < 20:
        return False
    m = _RFC3339_RE.match(value)
    if not m:
        return False
    y, mo, d, h, mi, s = (int(m.group(i)) for i in range(1, 7))
    return _valid_rfc3339_fields(y, mo, d, h, mi, s, m.group(8))


def is_email(value: str) -> bool:
    """'@' pre-check + simplified RFC 5322 regex (node.go:331-336)."""
    return "@" in value and _EMAIL_RE.match(value) is not None


def is_uuid(value: str) -> bool:
    """36 chars + v1-v5 regex (node.go:340-342)."""
    return len(value) == 36 and _UUID_RE.match(value) is not None


def _parse_ipv6(value: str) -> bool:
    """Go net.ParseIP acceptance for strings containing ':'.

    Accepts RFC 4291 textual forms including '::' compression and an
    embedded IPv4 tail; rejects zones ('%'), which net.ParseIP does not
    support (node.go:353-356 uses plain ParseIP).
    """
    if "%" in value:
        return False
    s = value
    # embedded IPv4 tail
    tail_groups = 0
    if "." in s:
        idx = s.rfind(":")
        if idx == -1:
            return False
        v4 = s[idx + 1:]
        if not _IPV4_RE.match(v4):
            return False
        s = s[:idx + 1] + "0:0"  # replace tail with two 16-bit groups
        tail_groups = 0
    if s == "::":
        return True
    double = s.count("::")
    if double > 1:
        return False
    if double == 1:
        left, right = s.split("::")
        lparts = left.split(":") if left else []
        rparts = right.split(":") if right else []
        if "" in lparts or "" in rparts:
            return False
        parts = lparts + rparts
        if len(parts) > 7:
            return False
    else:
        parts = s.split(":")
        if len(parts) != 8 or "" in parts:
            return False
    for p in parts:
        if not (1 <= len(p) <= 4) or not all(c in "0123456789abcdefABCDEF" for c in p):
            return False
    return True


def is_ipv4(value: str) -> bool:
    """Go: net.ParseIP != nil && To4() != nil && contains '.' (node.go:346-349).

    Note To4() is also non-nil for IPv4-mapped IPv6 ("::ffff:1.2.3.4"),
    which contains '.', so such strings satisfy BOTH ipv4 and ipv6 — the
    reference emits whichever has higher registry priority (ipv6).
    """
    if "." not in value:
        return False
    if _IPV4_RE.match(value):
        return True
    # IPv4-mapped IPv6: ::ffff:a.b.c.d (To4() non-nil)
    if ":" in value and _parse_ipv6(value):
        low = value.lower()
        body = low.rsplit(":", 1)[0]
        return body in ("::ffff", "0:0:0:0:0:ffff") and _IPV4_RE.match(
            value.rsplit(":", 1)[1]) is not None
    return False


def is_ipv6(value: str) -> bool:
    """Go: net.ParseIP != nil && contains ':' (node.go:353-356)."""
    return ":" in value and _parse_ipv6(value)


def is_url(value: str) -> bool:
    """Go isURL (node.go:360-374): 'http'/'ftp' prefix, url.Parse ok,
    non-empty host, scheme in {http, https, ftp, ftps}.

    urlsplit mirrors url.Parse closely enough here because the scheme
    allow-list constrains the shape; we add the control-character and
    host-validity checks Go's parser enforces.
    """
    if not (value.startswith("http") or value.startswith("ftp")):
        return False
    if any(ord(c) < 0x20 or c == "\x7f" for c in value):
        return False  # url.Parse: "invalid control character in URL"
    # url.Parse validates percent escapes ("invalid URL escape")
    for m in re.finditer("%", value):
        h = value[m.start() + 1 : m.start() + 3]
        if len(h) < 2 or not all(c in "0123456789abcdefABCDEF" for c in h):
            return False
    try:
        u = urlsplit(value)
        u.port  # raises ValueError on a non-numeric port (Go: parse error)
    except ValueError:
        return False
    if u.scheme not in ("http", "https", "ftp", "ftps"):
        return False
    # Go requires non-empty Host = netloc minus userinfo (may be just ":port")
    hoststr = u.netloc.rsplit("@", 1)[-1]
    return hoststr != ""


# --- vectorized forms --------------------------------------------------------


def vec_is_date_time(s: pd.Series) -> pd.Series:
    """Vectorized RFC 3339: regex shape gate, then exact field validation
    only on the (usually tiny) surviving subset."""
    ok = (s.str.len() >= 20) & s.str.match(_RFC3339_RE).fillna(False)
    if ok.any():
        sub = s[ok]
        ok.loc[ok] = np.fromiter(
            (is_date_time(v) for v in sub), dtype=bool, count=len(sub)
        )
    return ok


def vec_is_email(s: pd.Series) -> pd.Series:
    return s.str.match(_EMAIL_RE).fillna(False)


def vec_is_uuid(s: pd.Series) -> pd.Series:
    return (s.str.len() == 36) & s.str.match(_UUID_RE).fillna(False)


def vec_is_ipv4(s: pd.Series) -> pd.Series:
    fast = s.str.match(_IPV4_RE).fillna(False)
    # rare mapped-IPv6 path only for strings containing ':'
    rest = ~fast & s.str.contains(":", regex=False).fillna(False)
    if rest.any():
        sub = s[rest]
        fast.loc[rest] = np.fromiter(
            (is_ipv4(v) for v in sub), dtype=bool, count=len(sub)
        )
    return fast


def vec_is_ipv6(s: pd.Series) -> pd.Series:
    cand = s.str.contains(":", regex=False).fillna(False)
    if cand.any():
        sub = s[cand]
        cand.loc[cand] = np.fromiter(
            (_parse_ipv6(v) for v in sub), dtype=bool, count=len(sub)
        )
    return cand


def vec_is_url(s: pd.Series) -> pd.Series:
    cand = (
        s.str.startswith("http").fillna(False)
        | s.str.startswith("ftp").fillna(False)
    )
    if cand.any():
        sub = s[cand]
        cand.loc[cand] = np.fromiter(
            (is_url(v) for v in sub), dtype=bool, count=len(sub)
        )
    return cand


def built_in_formats():
    """Registry in exact reference priority order (jsonschema.go:44-53)."""
    from ..config import CustomFormat

    return [
        CustomFormat("date-time", is_date_time, vec_is_date_time),
        CustomFormat("email", is_email, vec_is_email),
        CustomFormat("uuid", is_uuid, vec_is_uuid),
        CustomFormat("ipv6", is_ipv6, vec_is_ipv6),
        CustomFormat("ipv4", is_ipv4, vec_is_ipv4),
        CustomFormat("uri", is_url, vec_is_url),
    ]
