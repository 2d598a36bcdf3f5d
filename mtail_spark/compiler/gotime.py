"""Go time-layout handling: proleptic-calendar epoch math (year 0 is
representable, matching Go's time model) and translation of Go
reference layouts ("2006-01-02 15:04:05") to Python strptime and Java
DateTimeFormatter patterns.

Reference behavior: internal/runtime/vm/vm.go:555-589 (strptime),
vm.go:309-332 (yearless handling), checker.go:802-829 (compile-time
layout validation).
"""

from __future__ import annotations

import re

US = 1_000_000


def days_from_civil(y: int, m: int, d: int) -> int:
    """Days since 1970-01-01 for a proleptic Gregorian date; valid for
    any year incl. 0 and negatives (Hinnant's algorithm)."""
    y -= m <= 2
    era = (y if y >= 0 else y - 399) // 400
    yoe = y - era * 400
    doy = (153 * (m + (-3 if m > 2 else 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def civil_to_epoch_us(
    y: int, mo: int, d: int, h: int = 0, mi: int = 0, s: int = 0, us: int = 0
) -> int:
    return (
        days_from_civil(y, mo, d) * 86400 + h * 3600 + mi * 60 + s
    ) * US + us


# Offset (µs) to move a date parsed with default year Y back to year 0,
# split at March 1 to keep month/day alignment across leap days
# (year 0 is a proleptic leap year).
def year_shift_us(from_year: int, month: int) -> int:
    if month <= 2:
        return civil_to_epoch_us(from_year, 1, 1) - civil_to_epoch_us(0, 1, 1)
    return civil_to_epoch_us(from_year, 3, 1) - civil_to_epoch_us(0, 3, 1)


# Go layout tokens, longest-first.  Each maps to
# (python_strptime, java_pattern, field).
_TOKENS = [
    ("2006", "%Y", "yyyy", "year"),
    ("January", "%B", "MMMM", "month"),
    ("Monday", "%A", "EEEE", "weekday"),
    (".000000", ".%f", ".SSSSSS", "frac"),
    (".999999", ".%f", ".SSSSSS", "frac"),
    ("Jan", "%b", "MMM", "month"),
    ("Mon", "%a", "EEE", "weekday"),
    ("MST", "%Z", "zzz", "zone"),
    ("Z07:00", "%z", "XXX", "zone"),
    ("Z0700", "%z", "XX", "zone"),
    ("-07:00", "%z", "xxx", "zone"),
    ("-0700", "%z", "xx", "zone"),
    (".000", ".%f", ".SSS", "frac"),
    (".999", ".%f", ".SSS", "frac"),
    ("15", "%H", "HH", "hour24"),
    ("PM", "%p", "a", "ampm"),
    ("pm", "%p", "a", "ampm"),
    ("_2", "%d", "d", "day"),  # space-padded; normalized upstream
    ("06", "%y", "yy", "year2"),
    ("01", "%m", "MM", "month"),
    ("02", "%d", "dd", "day"),
    ("03", "%I", "hh", "hour12"),
    ("04", "%M", "mm", "minute"),
    ("05", "%S", "ss", "second"),
    ("1", "%m", "M", "month"),
    ("2", "%d", "d", "day"),
    ("3", "%I", "h", "hour12"),
    ("4", "%M", "m", "minute"),
    ("5", "%S", "s", "second"),
]


def parse_layout(layout: str):
    """Tokenize a Go layout. Returns (tokens, fields) where tokens is a
    list of ('tok', entry) / ('lit', text)."""
    out = []
    fields = set()
    i = 0
    while i < len(layout):
        for tok, py, java, field in _TOKENS:
            if layout.startswith(tok, i):
                out.append(("tok", (tok, py, java, field)))
                fields.add(field)
                i += len(tok)
                break
        else:
            out.append(("lit", layout[i]))
            i += 1
    return out, fields


def to_python(layout: str) -> tuple[str, set]:
    toks, fields = parse_layout(layout)
    parts = []
    for kind, v in toks:
        if kind == "lit":
            parts.append(v.replace("%", "%%"))
        else:
            parts.append(v[1])
    return "".join(parts), fields


def to_java(layout: str) -> tuple[str, set]:
    toks, fields = parse_layout(layout)
    parts = []
    literal = ""

    def flush():
        nonlocal literal
        if literal:
            if re.search(r"[a-zA-Z']", literal):
                parts.append("'" + literal.replace("'", "''") + "'")
            else:
                parts.append(literal)
            literal = ""

    for kind, v in toks:
        if kind == "lit":
            literal += v
        else:
            flush()
            parts.append(v[2])
    flush()
    return "".join(parts), fields


_SPACE_RUNS = re.compile(r" +")


def normalize_spaces(s: str) -> str:
    """Go's layouts use `_2` (space-padded) and double spaces; collapse
    runs of spaces so single-space patterns match."""
    return _SPACE_RUNS.sub(" ", s)


# Value patterns per NUMERIC strptime directive, copied from Python
# _strptime.TimeRE so the fast path accepts exactly what
# datetime.strptime accepts (seconds deliberately capped at 59: 60/61
# match TimeRE but then raise in the datetime constructor, and the
# fast path's miss falls through to that same slow path / error).
# Keyed by the PYTHON directive, not the Go field — "Jan"/"January"
# also carry field "month" but are name-valued and must stay slow.
_FAST_DIRECTIVE_PATS = {
    "%Y": (r"(\d{4})", "year"),
    "%y": (r"(\d\d)", "year2"),
    "%m": (r"(1[0-2]|0[1-9]|[1-9])", "month"),
    "%d": (r"(3[01]|[12]\d|0[1-9]|[1-9])", "day"),
    "%H": (r"(2[0-3]|[0-1]\d|\d)", "hour24"),
    "%M": (r"([0-5]\d|\d)", "minute"),
    "%S": (r"([0-5]\d|\d)", "second"),
    ".%f": (r"([0-9]{1,6})", "frac"),
}

_DAYS_IN_MONTH = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def _days_in_month(y: int, m: int) -> int:
    if m == 2 and y % 4 == 0 and (y % 100 != 0 or y % 400 == 0):
        return 29
    return _DAYS_IN_MONTH[m - 1]


def _name_entry(directive: str):
    """(pattern, month-lookup) for a name-valued directive, built from
    the SAME locale tables Python _strptime matches against, so the
    fast path accepts exactly what the slow path accepts.  Weekday
    names are matched (and validated) but carry no date information in
    strptime — the lookup is None for them."""
    import _strptime

    lt = _strptime.TimeRE().locale_time
    seqs = {
        "%b": lt.a_month[1:],
        "%B": lt.f_month[1:],
        "%a": lt.a_weekday,
        "%A": lt.f_weekday,
    }[directive]
    names = sorted({n for n in seqs if n}, key=len, reverse=True)
    pat = "(?i:(" + "|".join(re.escape(n) for n in names) + "))"
    if directive in ("%b", "%B"):
        lookup = {n.lower(): i for i, n in enumerate(seqs, 1)}
    else:
        lookup = None
    return pat, lookup


class _CompiledLayout:
    """Per-layout parse artifacts, computed once (strptime runs per
    LINE in the fold/chunkfold interpreters — re-tokenizing the layout
    each call dominated the txn/mysql profile at ~4x the rest of the
    line's work combined)."""

    __slots__ = (
        "pyfmt", "fields", "zone", "fast_re", "order", "month_lookup",
        "fast_eval",
    )

    def __init__(self, layout: str):
        toks, fields = parse_layout(layout)
        self.fields = fields
        self.pyfmt = normalize_spaces(to_python(layout)[0])
        self.zone = "zone" in fields
        # Compiled direct regex for numeric + month/weekday-name
        # layouts: group order mirrors token order; duplicates or any
        # other field (am/pm, 12h, zones) disable it.
        self.fast_re = None
        self.month_lookup = None
        order: list[str] = []
        parts: list[str] = []
        lit = ""
        ok = True
        prev_tok = False
        for kind, v in toks:
            if kind == "lit":
                lit += v
                prev_tok = False
                continue
            if lit:
                parts.append(re.escape(normalize_spaces(lit)))
                lit = ""
            ent = _FAST_DIRECTIVE_PATS.get(v[1])
            if ent is None and v[1] in ("%b", "%B", "%a", "%A"):
                pat, lookup = _name_entry(v[1])
                field = "month_name" if lookup else "wday_name"
                if lookup:
                    self.month_lookup = lookup
                ent = (pat, field)
            # adjacent tokens (no separating literal) can backtrack
            # differently under fullmatch than strptime's
            # match-then-check-leftover — keep those on the slow
            # path.  Name tokens are fixed-string alternations, so a
            # numeric token may follow one, but not precede one.
            if ent is None or (prev_tok and v[1] != ".%f"):
                ok = False
                break
            pat, field = ent
            if field in order or (
                field == "month_name" and "month" in order
            ) or (field == "month" and "month_name" in order):
                ok = False
                break
            prev_tok = v[1] not in ("%b", "%B", "%a", "%A")
            if field == "frac":
                # the layout token carries the leading dot
                parts.append(r"\.")
            order.append(field)
            parts.append(pat)
        if ok:
            if lit:
                parts.append(re.escape(normalize_spaces(lit)))
            self.fast_re = re.compile("".join(parts))
            self.order = tuple(order)
            self.fast_eval = self._make_fast_eval()
        else:
            self.order = ()
            self.fast_eval = None

    def _make_fast_eval(self):
        """Specialized evaluator over fast_re match groups: field
        positions are resolved to captured locals at layout-compile
        time (the generic dict(zip(order, groups)) + seven .get()
        lookups were ~40% of the per-call miss cost in the fold
        profile).  Returns epoch µs, or None when the day-range /
        year guard fails — the caller then falls through to strptime
        so the canonical ValueError text is preserved."""
        idx = {f: i for i, f in enumerate(self.order)}
        iy = idx.get("year")
        iy2 = idx.get("year2")
        imn = idx.get("month_name")
        imo = idx.get("month")
        idd = idx.get("day")
        ih = idx.get("hour24")
        imi = idx.get("minute")
        isec = idx.get("second")
        ifr = idx.get("frac")
        mlook = self.month_lookup

        def fast_eval(g, now_year):
            if iy is not None:
                y = int(g[iy])
                yearless = False
            elif iy2 is not None:
                y2 = int(g[iy2])
                y = 2000 + y2 if y2 < 69 else 1900 + y2
                yearless = False
            else:
                y = 1900  # datetime's default year, shifted below
                yearless = True
            if imn is not None:
                mo = mlook[g[imn].lower()]
            elif imo is not None:
                mo = int(g[imo])
            else:
                mo = 1
            d = int(g[idd]) if idd is not None else 1
            # y >= 1 mirrors datetime's MINYEAR; day-range guard
            # falls through to strptime's canonical error
            if y < 1 or d > _days_in_month(y, mo):
                return None
            us = civil_to_epoch_us(
                y, mo, d,
                int(g[ih]) if ih is not None else 0,
                int(g[imi]) if imi is not None else 0,
                int(g[isec]) if isec is not None else 0,
                int(g[ifr].ljust(6, "0")) if ifr is not None else 0,
            )
            if yearless:
                us -= year_shift_us(1900, mo)
                if now_year is not None:
                    us += year_shift_us(now_year, mo)
            return us

        return fast_eval


_LAYOUTS: dict[str, _CompiledLayout] = {}


def _layout(layout: str) -> _CompiledLayout:
    cl = _LAYOUTS.get(layout)
    if cl is None:
        cl = _LAYOUTS[layout] = _CompiledLayout(layout)
    return cl


# Last-parse memo: log timestamps have second resolution and many
# lines per second, so consecutive strptime calls overwhelmingly see
# the SAME string.  One cell holding one ((value, layout, now_year,
# tz), result) tuple — read and replaced as a single object, so
# concurrent readers (stateful streaming threads share this module)
# can never observe a torn key/value pair.  Only successful parses are
# memoized; errors always re-raise through the real path.
_MEMO: list = [None]


def parse_go_time_us(
    value: str,
    layout: str,
    now_year: int | None = None,
    tz: str | None = None,
):
    """Parse `value` with a Go layout; returns epoch µs (UTC) or raises
    ValueError — matching Go time.Parse semantics for the fields the
    DSL corpus uses (year defaults to 0 when absent; yearless results
    are patched to now_year only when given, reference vm.go:309-332).

    tz: interpret a zone-LESS wall-clock in this IANA timezone instead
    of UTC (reference --override_timezone / time.ParseInLocation,
    vm.go:312-313).  An explicit zone in the layout always wins.  The
    zone offset is evaluated at the FINAL date (after any yearless
    patch, proxy year 1 for unpatched year-0 results) — DST rules
    then match the date the datum actually carries."""
    key = (value, layout, now_year, tz)
    memo = _MEMO[0]
    if memo is not None and memo[0] == key:
        return memo[1]

    cl = _layout(layout)
    v = value.strip()
    if "  " in v:
        v = normalize_spaces(v)

    # Fast path: numeric-only layout, no tz override.  Epoch math is
    # identical to the slow path below (civil_to_epoch_us over the
    # same defaulted fields); a regex miss falls THROUGH so error
    # text/behavior on malformed values stays datetime.strptime's.
    if cl.fast_re is not None and tz is None:
        m = cl.fast_re.fullmatch(v)
        if m is not None:
            us = cl.fast_eval(m.groups(), now_year)
            if us is not None:
                _MEMO[0] = (key, us)
                return us
            # fall through: strptime raises the canonical day-range
            # ValueError for this value

    from datetime import datetime, timezone

    fields = cl.fields
    f = cl.pyfmt
    # Python %z rejects some Go-accepted forms; normalize +NN:NN to +NNNN
    if cl.zone:
        v = re.sub(r"([+-]\d{2}):(\d{2})$", r"\1\2", v)
        f = f.replace("%z:%z", "%z")  # defensive; not expected
    dt = datetime.strptime(v, f)
    year = dt.year
    if "year" not in fields and "year2" not in fields:
        # Python defaulted to 1900; Go defaults to year 0.
        shift = year_shift_us(1900, dt.month)
        year = None
    else:
        shift = 0
    if dt.tzinfo is None:
        if tz:
            from zoneinfo import ZoneInfo

            if year is None:
                final_year = now_year if now_year is not None else 1
            else:
                final_year = max(year, 1)
            local = datetime(
                final_year, dt.month, dt.day, dt.hour, dt.minute,
                dt.second, dt.microsecond, tzinfo=ZoneInfo(tz),
            )
            dt = dt.replace(
                tzinfo=timezone(local.utcoffset())
            )
        else:
            dt = dt.replace(tzinfo=timezone.utc)
    base_us = civil_to_epoch_us(
        dt.year, dt.month, dt.day, dt.hour, dt.minute, dt.second, dt.microsecond
    ) - int(dt.utcoffset().total_seconds()) * US
    us = base_us - shift
    if year is None and now_year is not None:
        us += year_shift_us(now_year, dt.month) - 0
    _MEMO[0] = (key, us)
    return us


def epoch_us_year(us: int) -> int:
    """UTC calendar year of an epoch-µs instant (proleptic)."""
    from datetime import datetime, timezone

    return datetime.fromtimestamp(us / US, tz=timezone.utc).year


def format_epoch_us_rfc3339(us: int) -> str:
    """Render epoch µs as RFC3339 UTC, supporting year 0 (golden-file
    format, reference golden/reader.go)."""
    secs, rem = divmod(us, US)
    days, sod = divmod(secs, 86400)
    # invert days_from_civil
    z = days + 719468
    era = (z if z >= 0 else z - 146096) // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + (3 if mp < 10 else -9)
    y += m <= 2
    h, rem2 = divmod(sod, 3600)
    mi, s = divmod(rem2, 60)
    frac = f".{rem:06d}".rstrip("0").rstrip(".") if rem else ""
    return f"{y:04d}-{m:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}{frac}Z"
