"""Five-stage pipeline orchestration (reference §3.4: IngestionJob →
DimensionJob → FactJob → AggregationJob → DataQualityJob).

The reference runs five separate spark-submit JVMs communicating only
through Iceberg tables (README.md:78-105). Here the same stages are
callable in-process against ONE SparkSession (no per-stage JVM spin-up)
or per-stage via the CLI, with hand-off still table-materialized in a
warehouse directory of partitioned parquet — the portable equivalent of
the reference's Hadoop-catalog warehouse (SURVEY.md §1.4, §2.10).

Write-mode semantics upgrade (SURVEY.md §4.3.3): every stage write here
is an idempotent overwrite (re-running a stage replaces its output);
append remains available through sources.io.append for incremental loads.

Partition layout: large tables partition on their pruning key — the raw
and fact tables by ship_year (at 100 TB: by date, giving daily partition
pruning; at test scale daily layout would mean thousands of tiny files,
the classic small-files problem, so the CLI exposes --partition-daily).
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregates, cleaning, dimensions, fact, quality
from ..session import observed
from ..sources import Catalog



def _where_lit(tok: str):
    import re as _re
    from datetime import date as _date

    tok = tok.strip()
    m = _re.match(r"^DATE\s*'([^']+)'$", tok, _re.IGNORECASE)
    if m:
        return _date.fromisoformat(m.group(1))
    if _re.match(r"^'.*'$", tok, _re.DOTALL):
        return tok[1:-1].replace("''", "'")
    if tok.upper() in ("TRUE", "FALSE"):
        return tok.upper() == "TRUE"
    if _re.match(r"^-?\d+$", tok):
        return int(tok)
    if _re.match(r"^-?\d*\.\d+$", tok):
        return float(tok)
    if _re.match(r"^\w+\s*\(", tok):
        return _fold_date_fn(tok)
    raise ValueError(
        f"unsupported literal {tok!r} in WHERE (number, 'string', "
        "TRUE/FALSE, DATE 'yyyy-mm-dd', or a foldable date function — "
        "current_date/current_timestamp/to_date/date_sub/date_add)"
    )


def _session_now():
    """Wall-clock **in the session's timezone** — the zone Spark itself
    evaluates ``current_date()``/``current_timestamp()`` in
    (``spark.sql.session.timeZone``, round 11: the r10 fold used
    driver-local time, which diverges for up to 24 h around midnight
    when the session is configured to a different zone). Returns a
    naive datetime representing session-zone wall time, matching how
    Spark renders the values as literals. Region names resolve through
    zoneinfo; ``GMT+8`` / ``+08:00`` style fixed offsets parse
    directly; an unresolvable zone falls back to driver-local time
    (the r10 behavior) rather than failing the statement."""
    import re as _re
    from datetime import datetime as _datetime
    from datetime import timedelta as _td
    from datetime import timezone as _tz

    tz_name = None
    try:
        from pyspark.sql import SparkSession as _SS

        spark = _SS.getActiveSession()
        if spark is not None:
            tz_name = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz_name = None
    tzinfo = None
    if tz_name:
        m = _re.match(
            r"^(?:GMT|UTC)?([+-])(\d{1,2})(?::?(\d{2}))?$", tz_name
        )
        if m:
            sign = 1 if m.group(1) == "+" else -1
            tzinfo = _tz(
                sign
                * _td(hours=int(m.group(2)), minutes=int(m.group(3) or 0))
            )
        elif tz_name.upper() in ("UTC", "GMT", "Z"):
            tzinfo = _tz.utc
        else:
            try:
                from zoneinfo import ZoneInfo as _ZI

                tzinfo = _ZI(tz_name)
            except Exception:
                tzinfo = None
    if tzinfo is not None:
        return _datetime.now(_tz.utc).astimezone(tzinfo).replace(tzinfo=None)
    return _datetime.now()


def _fold_date_fn(tok: str):
    """Round 10: DETERMINISTIC date functions in DML WHERE, constant-
    folded driver-side into plain literals so the existing min/max/
    Bloom file pruning keeps working on the folded value — the
    retention-job shape ``DELETE WHERE ship_date <
    date_sub(current_date(), 90)`` prunes exactly like a DATE literal.
    Folding current_date()/current_timestamp() at parse time matches
    Spark's semantics (both are fixed once per statement, evaluated in
    the SESSION timezone — see ``_session_now``).
    Non-deterministic functions refuse loudly."""
    import re as _re
    from datetime import date as _date
    from datetime import datetime as _datetime
    from datetime import timedelta as _td

    tok = tok.strip()
    m = _re.match(r"^current_date\s*\(\s*\)$", tok, _re.IGNORECASE)
    if m:
        return _session_now().date()
    m = _re.match(
        r"^(?:current_timestamp|now)\s*\(\s*\)$", tok, _re.IGNORECASE
    )
    if m:
        return _session_now()
    m = _re.match(r"^(rand|randn|random|uuid)\s*\(", tok, _re.IGNORECASE)
    if m:
        raise ValueError(
            f"non-deterministic function in WHERE literal {tok!r} — a "
            "row-level DML predicate must fold to a constant"
        )
    m = _re.match(
        r"^to_date\s*\(\s*'([^']+)'\s*\)$", tok, _re.IGNORECASE
    )
    if m:
        return _date.fromisoformat(m.group(1))
    m = _re.match(
        r"^(date_sub|date_add)\s*\((.+)\)$", tok, _re.IGNORECASE | _re.DOTALL
    )
    if m:
        args = _split_in_list(m.group(2))
        if len(args) != 2:
            raise ValueError(
                f"{m.group(1)} takes (date_expr, days), got {tok!r}"
            )
        base = _where_lit(args[0])  # literal or nested foldable fn
        if isinstance(base, str):
            base = _date.fromisoformat(base)  # Spark casts 'yyyy-mm-dd'
        if isinstance(base, _datetime):
            # Spark's date_sub/date_add cast a timestamp argument to
            # DATE (session-zone day) before the arithmetic; a naive
            # datetime here IS session-zone wall time, so truncation is
            # exactly that cast (round 11 — datetime subclasses date,
            # the bare isinstance check silently kept the time part)
            base = base.date()
        if not isinstance(base, _date):
            raise ValueError(
                f"{m.group(1)} needs a date first argument, got {base!r}"
            )
        days = _where_lit(args[1])
        if not isinstance(days, int):
            raise ValueError(
                f"{m.group(1)} needs an integer day count, got {args[1]!r}"
            )
        sign = 1 if m.group(1).lower() == "date_add" else -1
        return base + _td(days=sign * days)
    raise ValueError(
        f"cannot fold function {tok!r} in a WHERE literal; supported: "
        "current_date(), current_timestamp(), to_date('yyyy-mm-dd'), "
        "date_sub(d, n), date_add(d, n) — pre-compute anything richer"
    )


def _split_in_list(s: str) -> list[str]:
    """Split a comma-separated SQL fragment on TOP-LEVEL commas,
    respecting ''-escaped string literals (a quoted comma is part of
    the literal) and parenthesized sub-expressions (``round(x, 2)``
    stays one item) — used for IN-list bodies and UPDATE SET
    assignment lists."""
    out: list[str] = []
    cur: list[str] = []
    i, n, depth = 0, len(s), 0
    while i < n:
        ch = s[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if s[j] == "'" and j + 1 < n and s[j + 1] == "'":
                    j += 2
                    continue
                if s[j] == "'":
                    break
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string literal in {s!r}")
            cur.append(s[i : j + 1])
            i = j + 1
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
            i += 1
        else:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            cur.append(ch)
            i += 1
    out.append("".join(cur).strip())
    return out


def _split_coldefs(s: str) -> list[str]:
    """Split a CREATE TABLE column list on TOP-LEVEL commas. Unlike
    ``_split_in_list`` this also respects ``<>`` nesting, because DDL
    types spell complex types with angle brackets whose commas are not
    separators (``MAP<STRING, INT>``, ``STRUCT<a: INT, b: STRING>``) —
    but ONLY here: in expression lists ``<`` is the comparison operator
    and must not open a bracket scope."""
    out: list[str] = []
    cur: list[str] = []
    i, n, depth = 0, len(s), 0
    while i < n:
        ch = s[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if s[j] == "'" and j + 1 < n and s[j + 1] == "'":
                    j += 2
                    continue
                if s[j] == "'":
                    break
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string literal in {s!r}")
            cur.append(s[i : j + 1])
            i = j + 1
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
            i += 1
        else:
            if ch in "(<":
                depth += 1
            elif ch in ")>":
                depth -= 1
            cur.append(ch)
            i += 1
    out.append("".join(cur).strip())
    return out


def _parse_column_defs(
    body: str,
) -> tuple[list[str], dict[str, dict], dict[str, str]]:
    """Parse a CREATE TABLE column list (round 12): each item is
    ``name TYPE`` optionally followed by ONE of ``GENERATED ALWAYS AS
    (expr)``, ``GENERATED ALWAYS AS IDENTITY [(START WITH n [INCREMENT
    BY m])]`` or ``DEFAULT <expr>`` (Delta's declare-time column
    surface). Returns (ddl "name type" fragments, generated specs,
    default exprs). The constraint keyword is located at TOP level only
    — a keyword inside the type's angle brackets or an expression's
    parens never splits."""
    import re

    fields: list[str] = []
    generated: dict[str, dict] = {}
    defaults: dict[str, str] = {}
    kw = re.compile(r"\b(GENERATED|DEFAULT|NOT)\b", re.IGNORECASE)
    for item in _split_coldefs(body):
        m = re.match(r"`?(\w+)`?\s+(.+)$", item, re.DOTALL)
        if not m:
            raise ValueError(
                f"cannot parse column definition {item!r}; expected "
                "`name TYPE [GENERATED ALWAYS AS …|DEFAULT <expr>]`"
            )
        name, rest = m.group(1), m.group(2).strip()
        # first top-level constraint keyword (outside (), <>, '')
        idx = None
        depth, i, n = 0, 0, len(rest)
        while i < n:
            ch = rest[i]
            if ch == "'":
                j = rest.find("'", i + 1)
                i = n if j < 0 else j + 1
                continue
            if ch in "(<":
                depth += 1
            elif ch in ")>":
                depth -= 1
            elif depth == 0:
                km = kw.match(rest, i)
                if km and (i == 0 or not rest[i - 1].isalnum()):
                    idx = i
                    break
            i += 1
        type_part = (rest[:idx] if idx is not None else rest).strip()
        cons = rest[idx:].strip() if idx is not None else ""
        if not type_part:
            raise ValueError(f"column {name!r} is missing a type: {item!r}")
        fields.append(f"{name} {type_part}")
        if not cons:
            continue
        m_id = re.match(
            r"GENERATED\s+ALWAYS\s+AS\s+IDENTITY"
            r"(?:\s*\(\s*START\s+WITH\s+(-?\d+)"
            r"(?:\s+INCREMENT\s+BY\s+(-?\d+))?\s*\))?\s*$",
            cons,
            re.IGNORECASE,
        )
        m_ex = re.match(
            r"GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*$",
            cons,
            re.IGNORECASE | re.DOTALL,
        )
        m_df = re.match(r"DEFAULT\s+(.+?)\s*$", cons, re.IGNORECASE | re.DOTALL)
        if m_id:
            generated[name] = {
                "identity": {
                    "start": int(m_id.group(1) or 1),
                    "step": int(m_id.group(2) or 1),
                }
            }
        elif m_ex:
            generated[name] = {"expr": m_ex.group(1).strip()}
        elif m_df:
            defaults[name] = m_df.group(1).strip()
        else:
            raise ValueError(
                f"unsupported column constraint {cons!r} on {name!r} "
                "(supported: GENERATED ALWAYS AS (expr) | GENERATED "
                "ALWAYS AS IDENTITY [(START WITH n INCREMENT BY m)] | "
                "DEFAULT <expr>)"
            )
    return fields, generated, defaults


def _unq_sql(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
        return s[1:-1].replace("''", "'")
    return s


def _parse_props_body(body: str) -> dict[str, str]:
    """``'k' = 'v', …`` inside a TBLPROPERTIES clause → dict."""
    pairs: dict[str, str] = {}
    for item in _split_in_list(body):
        k, eq, val = item.partition("=")
        if not eq:
            raise ValueError(
                f"cannot parse TBLPROPERTIES pair {item!r}; "
                "expected 'key' = 'value'"
            )
        pairs[_unq_sql(k)] = _unq_sql(val)
    return pairs


def _outside_literal_spans(s: str) -> list[tuple[int, int]]:
    """(start, end) spans of ``s`` OUTSIDE ''-escaped string literals —
    the structural scanner under the MERGE clause splitter and the alias
    canonicalizer, so SQL keywords or alias-lookalikes inside a string
    literal are never treated as syntax."""
    spans = []
    i, n, start = 0, len(s), 0
    while i < n:
        if s[i] == "'":
            spans.append((start, i))
            j = i + 1
            while j < n:
                if s[j] == "'" and j + 1 < n and s[j + 1] == "'":
                    j += 2
                    continue
                if s[j] == "'":
                    break
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string literal in {s!r}")
            i = j + 1
            start = i
        else:
            i += 1
    spans.append((start, n))
    return spans


def _split_top_level_when(s: str) -> list[str]:
    """Split on clause-starting WHEN keywords outside string literals:
    segment 0 is the text before the first WHEN (the MERGE ON
    expression), each further segment is one clause body (sans the WHEN
    itself). Only ``WHEN MATCHED``/``WHEN NOT`` split, so a ``CASE WHEN
    <expr>`` inside a condition or SET expression survives — unless the
    CASE predicate itself starts with the token ``matched`` or ``not``,
    which the clause parser then rejects loudly rather than silently
    mis-scoping."""
    import re as _re

    cuts = []
    for lo, hi in _outside_literal_spans(s):
        for m in _re.finditer(
            r"\bWHEN\b(?=\s+(?:MATCHED|NOT)\b)", s[lo:hi], _re.IGNORECASE
        ):
            cuts.append((lo + m.start(), lo + m.end()))
    parts = []
    prev = 0
    for lo, hi in cuts:
        parts.append(s[prev:lo].strip())
        prev = hi
    parts.append(s[prev:].strip())
    return parts


def _split_top_level_then(seg: str) -> tuple[str, str]:
    """One MERGE clause body → (head, action) at its first THEN outside
    string literals."""
    import re as _re

    for lo, hi in _outside_literal_spans(seg):
        m = _re.search(r"\bTHEN\b", seg[lo:hi], _re.IGNORECASE)
        if m:
            return seg[: lo + m.start()], seg[lo + m.end():]
    raise ValueError(f"MERGE clause 'WHEN {seg.strip()}' has no THEN")


def _canon_merge_expr(
    expr: str, t_alias: str, s_alias: str, aliases: str
) -> str:
    """Rewrite the statement's aliases to the engine's canonical ``t``/
    ``s`` in ONE pass (so the swapped alias pair ``target AS s, source
    AS t`` maps correctly — sequential substitution would collapse both
    onto one side), skipping string literals. ``aliases`` names the rows
    the clause may see: ``"ts"`` (matched: both), ``"t_bare"`` (NOT
    MATCHED BY SOURCE: the target row, bare column names), ``"s"``
    (NOT MATCHED insert condition: the source row)."""
    import re as _re

    pat = _re.compile(
        rf"\b({_re.escape(t_alias)}|{_re.escape(s_alias)})\s*\.\s*",
        _re.IGNORECASE,
    )

    def repl(m: "_re.Match") -> str:
        is_t = m.group(1).lower() == t_alias.lower()
        if aliases == "ts":
            return "t." if is_t else "s."
        if aliases == "t_bare":
            if not is_t:
                raise ValueError(
                    f"a NOT MATCHED BY SOURCE clause sees only the target "
                    f"row; {m.group(0).strip()!r} references the source"
                )
            return ""
        if is_t:
            raise ValueError(
                f"a NOT MATCHED insert condition sees only the source "
                f"row; {m.group(0).strip()!r} references the target"
            )
        return "s."

    out = []
    prev = 0
    for lo, hi in _outside_literal_spans(expr):
        out.append(expr[prev:lo])
        out.append(pat.sub(repl, expr[lo:hi]))
        prev = hi
    out.append(expr[prev:])
    return "".join(out).strip()


def _parse_where_term(term: str) -> tuple:
    """One WHERE leaf as a read()-style pruning filter tuple: ``col op
    literal`` (op also ``!=``/``<>``), ``col BETWEEN a AND b``,
    ``col [NOT] IN (…)``, ``col IS [NOT] NULL`` (round 9 — each a
    first-class stats-prunable op, so an IN over a thousand ids never
    explodes the DNF and IS NULL prunes on per-file null counts)."""
    import re as _re

    term = term.strip().rstrip(";").strip()
    m = _re.match(r"^`?(\w+)`?\s+IS\s+NOT\s+NULL$", term, _re.IGNORECASE)
    if m:
        return (m.group(1), "notnull", None)
    m = _re.match(r"^`?(\w+)`?\s+IS\s+NULL$", term, _re.IGNORECASE)
    if m:
        return (m.group(1), "isnull", None)
    m = _re.match(
        r"^`?(\w+)`?\s+(NOT\s+)?IN\s*\(\s*(.+?)\s*\)$",
        term,
        _re.IGNORECASE | _re.DOTALL,
    )
    if m:
        items = _split_in_list(m.group(3))
        if not items or any(not it for it in items):
            raise ValueError(f"empty IN list in WHERE term {term!r}")
        vals = tuple(_where_lit(it) for it in items)
        return (m.group(1), "notin" if m.group(2) else "in", vals)
    m = _re.match(
        r"^`?(\w+)`?\s+BETWEEN\s+(.+?)\s+AND\s+(.+)$", term, _re.IGNORECASE
    )
    if m:
        return (m.group(1), "between", (_where_lit(m.group(2)), _where_lit(m.group(3))))
    m = _re.match(
        r"^`?(\w+)`?\s*(!=|<>|==|=|<=|>=|<|>)\s*(.+)$", term, _re.DOTALL
    )
    if m:
        op = m.group(2)
        op = "==" if op in ("=", "==") else ("!=" if op in ("!=", "<>") else op)
        return (m.group(1), op, _where_lit(m.group(3)))
    raise ValueError(f"cannot parse WHERE term {term!r}")


# sentinel for the explicit DEFAULT keyword in INSERT VALUES (round 10)
_DEFAULT = object()


def _parse_values_rows(text: str) -> list[list]:
    """INSERT … VALUES body: top-level parenthesized tuples (scanned
    with ''-escaped string awareness), each split on commas and parsed
    with the WHERE-literal grammar plus NULL and the DEFAULT keyword
    (resolved to the column's declared default at bind time)."""
    rows: list[list] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "(":
            j, depth = i + 1, 1
            while j < n and depth:
                if text[j] == "'":
                    k = j + 1
                    while k < n:
                        if text[k] == "'" and k + 1 < n and text[k + 1] == "'":
                            k += 2
                            continue
                        if text[k] == "'":
                            break
                        k += 1
                    if k >= n:
                        raise ValueError("unterminated string in VALUES")
                    j = k + 1
                    continue
                if text[j] == "(":
                    depth += 1
                elif text[j] == ")":
                    depth -= 1
                j += 1
            if depth:
                raise ValueError("unbalanced parentheses in VALUES")
            body = text[i + 1 : j - 1]
            rows.append(
                [
                    None
                    if it.strip().upper() == "NULL"
                    else _DEFAULT
                    if it.strip().upper() == "DEFAULT"
                    else _where_lit(it)
                    for it in _split_in_list(body)
                ]
            )
            i = j
        elif ch in " ,\t\r\n":
            i += 1
        else:
            raise ValueError(
                f"cannot parse VALUES at {text[i : i + 20]!r}; expected "
                "comma-separated parenthesized rows"
            )
    if not rows:
        raise ValueError("empty VALUES list")
    return rows


def _coerce_literal(v, dtype):
    """Coerce a parsed SQL literal to the python type Spark's
    createDataFrame verifier expects for ``dtype`` (an int literal into
    a DOUBLE column, a 'yyyy-mm-dd' string into a DATE, …)."""
    from datetime import date as _date
    from datetime import datetime as _datetime
    from decimal import Decimal as _Dec

    if v is None:
        return None
    s = dtype.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return int(v)
    if s in ("float", "double"):
        return float(v)
    if s.startswith("decimal"):
        return _Dec(str(v))
    if s == "string":
        return str(v)
    if s == "boolean":
        # only TRUE/FALSE literals (parsed to python bools) are valid:
        # bool('false') is True, so a quoted string here would silently
        # invert — parse the two spellings, refuse everything else
        # (Spark's string→boolean cast accepts exactly these, case-
        # insensitively; anything else is an error, not truthiness)
        if isinstance(v, bool):
            return v
        if isinstance(v, str) and v.strip().lower() in ("true", "false"):
            return v.strip().lower() == "true"
        raise ValueError(
            f"cannot coerce literal {v!r} to BOOLEAN; use TRUE/FALSE"
        )
    if s == "date":
        return v if isinstance(v, _date) else _date.fromisoformat(str(v))
    if s.startswith("timestamp"):
        return (
            v
            if isinstance(v, _datetime)
            else _datetime.fromisoformat(str(v))
        )
    return v


# NOT over a leaf negates the op (tri-state-preserving: both sides of
# each pair are null-unsafe, so a NULL input selects nothing either way)
_NEG_OP = {
    "==": "!=", "!=": "==", "<": ">=", "<=": ">", ">": "<=", ">=": "<",
    "in": "notin", "notin": "in", "isnull": "notnull", "notnull": "isnull",
}


def _negate_term_dnf(t: tuple) -> list[list[tuple]]:
    """NOT over one leaf term, as DNF. BETWEEN negates to the two-range
    disjunction (NULL-equivalent under WHERE: both forms select no NULL
    rows)."""
    col, op, val = t
    if op == "between":
        lo, hi = val
        return [[(col, "<", lo)], [(col, ">", hi)]]
    if op in _NEG_OP:
        return [[(col, _NEG_OP[op], val)]]
    raise ValueError(f"cannot negate WHERE operator {op!r}")


def _negate_leaf_dnf(dnf: list[list[tuple]]) -> list[list[tuple]]:
    """NOT over a leaf-derived DNF (each disjunct a single term — the
    only shape leaf parsing produces): De Morgan turns the OR of terms
    into an AND of negated terms, re-distributed to DNF (a negated
    BETWEEN contributes a two-range disjunction)."""
    if not all(len(d) == 1 for d in dnf):
        raise ValueError("cannot negate a composite WHERE predicate")
    out: list[list[tuple]] = [[]]
    for (t,) in dnf:
        nd = _negate_term_dnf(t)
        out = [a + b for a in out for b in nd]
    return out


def _parse_where_leaf(text: str) -> list[list[tuple]]:
    """One leaf as DNF: ``col NOT BETWEEN a AND b`` is the two-range
    disjunction (it cannot be a single pruning tuple); everything else
    is a single term."""
    import re as _re

    m = _re.match(
        r"^`?(\w+)`?\s+NOT\s+BETWEEN\s+(.+?)\s+AND\s+(.+)$",
        text.strip(),
        _re.IGNORECASE,
    )
    if m:
        lo, hi = _where_lit(m.group(2)), _where_lit(m.group(3))
        return [[(m.group(1), "<", lo)], [(m.group(1), ">", hi)]]
    return [[_parse_where_term(text)]]


def _parse_where_conjunction(text: str) -> list[tuple]:
    """A WHERE clause as read()-style pruning filters: top-level AND of
    ``col op literal`` / ``col BETWEEN a AND b`` terms — the flat form
    every stats-pruned row op takes.  :func:`_parse_where_dnf` is the
    general entry point (OR / parentheses via DNF); this narrow form is
    kept for callers that require a single conjunction."""
    import re as _re

    if _re.search(r"\(|\)|\bOR\b", text, _re.IGNORECASE):
        raise ValueError(
            "expected a plain AND conjunction here (no OR or "
            "parentheses) — _parse_where_dnf handles the general form"
        )
    # protect BETWEEN x AND y before splitting the conjunction
    protected = _re.sub(
        r"(\bBETWEEN\b[^;]*?)\bAND\b",
        lambda m: m.group(1) + "\x00",
        text,
        flags=_re.IGNORECASE,
    )
    out: list[tuple] = []
    for term in _re.split(r"\bAND\b", protected, flags=_re.IGNORECASE):
        term = term.replace("\x00", " AND ")
        if term.strip().rstrip(";").strip():
            out.append(_parse_where_term(term))
    if not out:
        raise ValueError("empty WHERE clause")
    return out


_DNF_DISJUNCT_CAP = 64


def _parse_where_dnf(text: str) -> list[list[tuple]]:
    """A WHERE clause with OR and parentheses as DNF — a list of AND
    conjunctions, each the read()-style filter list the row ops prune
    with.  ``a = 1 OR (b = 2 AND c < 3)`` → ``[[(a,==,1)],
    [(b,==,2), (c,<,3)]]``: every disjunct prunes files independently
    and the candidate set is their union, so `DELETE FROM t WHERE a=1
    OR b=2` keeps file skipping instead of being refused (round 8;
    Delta/Iceberg accept this shape on day one).  Round 9 widens the
    leaves to ``IN (…)`` / ``NOT IN (…)`` (membership pruning, never a
    DNF explosion), ``IS [NOT] NULL`` (per-file null-count pruning),
    ``!=``/``<>``, and prefix ``NOT`` over a leaf (op negation; NOT
    over a parenthesized group still refuses — general DNF negation is
    exponential).  Functions and subqueries refuse loudly — use the
    TableLog API with real Column predicates.  AND-over-OR distribution
    is capped at ``_DNF_DISJUNCT_CAP`` disjuncts (DNF is worst-case
    exponential)."""
    import re as _re

    tok_pat = _re.compile(
        r"\s*(?:('(?:[^']|'')*')|(\()|(\))|([^\s()']+))"
    )
    toks: list[str] = []
    i = 0
    stripped = text.strip().rstrip(";").strip()
    while i < len(stripped):
        m = tok_pat.match(stripped, i)
        if not m or m.end() == i:
            raise ValueError(f"cannot tokenize WHERE at {stripped[i:]!r}")
        toks.append(next(g for g in m.groups() if g is not None))
        i = m.end()
    pos = 0

    def parse_or() -> list[list[tuple]]:
        nonlocal pos
        dnf = parse_and()
        while pos < len(toks) and toks[pos].upper() == "OR":
            pos += 1
            dnf = dnf + parse_and()
        return dnf

    def parse_and() -> list[list[tuple]]:
        nonlocal pos
        dnf = parse_factor()
        while pos < len(toks) and toks[pos].upper() == "AND":
            pos += 1
            rhs = parse_factor()
            dnf = [a + b for a in dnf for b in rhs]
            if len(dnf) > _DNF_DISJUNCT_CAP:
                raise ValueError(
                    f"WHERE clause expands past {_DNF_DISJUNCT_CAP} DNF "
                    "disjuncts — simplify the predicate or use the "
                    "TableLog API"
                )
        return dnf

    def parse_factor() -> list[list[tuple]]:
        nonlocal pos
        if pos < len(toks) and toks[pos].upper() == "NOT" and (
            pos + 1 >= len(toks) or toks[pos + 1].upper() != "IN"
        ):
            # prefix NOT: negate the following leaf. NOT over a
            # parenthesized group refuses loudly (general DNF negation
            # is exponential; distribute the negation by hand).
            pos += 1
            if pos < len(toks) and toks[pos] == "(":
                raise ValueError(
                    "NOT over a parenthesized predicate is not supported "
                    "in SQL DML WHERE — distribute the negation (De "
                    "Morgan's law) or use the TableLog API with a real "
                    "Column predicate"
                )
            return _negate_leaf_dnf(parse_factor())
        if pos < len(toks) and toks[pos] == "(":
            pos += 1
            dnf = parse_or()
            if pos >= len(toks) or toks[pos] != ")":
                raise ValueError("unbalanced parentheses in WHERE")
            pos += 1
            return dnf
        buf: list[str] = []
        between_pending = False
        while pos < len(toks):
            t, u = toks[pos], toks[pos].upper()
            if t == ")" or u == "OR":
                break
            if t == "(":
                if buf and buf[-1].upper() == "IN":
                    # the leaf's own IN-list: consume '( items )' whole
                    buf.append(t)
                    pos += 1
                    while pos < len(toks) and toks[pos] != ")":
                        if toks[pos] == "(":
                            raise ValueError(
                                "nested parentheses in IN list"
                            )
                        buf.append(toks[pos])
                        pos += 1
                    if pos >= len(toks):
                        raise ValueError("unterminated IN list in WHERE")
                    buf.append(")")
                    pos += 1
                    continue
                if (
                    buf
                    and _re.match(r"^\w+$", buf[-1])
                    and buf[-1].upper()
                    not in ("AND", "OR", "NOT", "BETWEEN", "IS", "NULL")
                ):
                    # a FUNCTION CALL inside the leaf (round 10:
                    # date_sub(current_date(), 90) …) — consume the
                    # balanced argument list whole; _where_lit folds it
                    # to a constant (or refuses) later
                    depth = 0
                    while pos < len(toks):
                        if toks[pos] == "(":
                            depth += 1
                        elif toks[pos] == ")":
                            depth -= 1
                        buf.append(toks[pos])
                        pos += 1
                        if depth == 0:
                            break
                    if depth != 0:
                        raise ValueError(
                            "unbalanced parentheses in WHERE function call"
                        )
                    continue
                break  # grouping paren — ends this leaf
            if u == "AND":
                if not between_pending:
                    break
                between_pending = False
            elif u == "BETWEEN":
                between_pending = True
            buf.append(t)
            pos += 1
        if not buf:
            raise ValueError("empty WHERE term")
        return _parse_where_leaf(" ".join(buf))

    dnf = parse_or()
    if pos != len(toks):
        raise ValueError(f"unexpected token {toks[pos]!r} in WHERE")
    if not dnf:
        raise ValueError("empty WHERE clause")
    return dnf


def _parse_where(text: str):
    """SQL-verb entry point: parse to DNF, collapse a single disjunct to
    the classic flat conjunction (identical row-op path and CDC output
    to previous rounds for OR-free clauses)."""
    dnf = _parse_where_dnf(text)
    return dnf[0] if len(dnf) == 1 else dnf


class Warehouse:
    """Path-addressed parquet warehouse: the table-materialized hand-off
    between stages. Pluggable: swap for saveAsTable/Iceberg by replacing
    write/read (the reference's SDSIcebergWriter seam, SURVEY.md §2.10)."""

    # Temp views registered by ANY Warehouse's .sql() — anything else with
    # a table's name in the session catalog belongs to the user. Shared
    # across instances because temp views are session-global (a sibling
    # Warehouse's view is re-registerable, not a user view to preserve) —
    # but keyed by Spark applicationId, NOT stored class-level raw: a
    # session restart clears the temp-view catalog while a class-level set
    # would survive it, and the stale entry would make .sql() clobber a
    # user view created under that name in the NEW session.
    _registered_by_app: dict[str, set[str]] = {}

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    @property
    def _registered(self) -> set[str]:
        app = self.spark.sparkContext.applicationId
        return Warehouse._registered_by_app.setdefault(app, set())

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def exists(self, name: str) -> bool:
        return os.path.isdir(self.path(name))

    # -- snapshot / time-travel seam (reference README.md:142-154 uses
    # Iceberg `VERSION AS OF`; SURVEY.md §2.1 S9 keeps it behind a
    # pluggable writer). Portable implementation: immutable versioned
    # directories — v1, v2, … — so any past version stays readable. An
    # Iceberg/Delta backend would swap these three methods for real
    # snapshot metadata with no caller changes.
    #
    # Why no stock Iceberg/Delta backend: this build environment ships NO
    # Iceberg or Delta jars (verified: zero matches in the pyspark jars
    # dir) and is offline, so spark.jars.packages cannot fetch them —
    # native `VERSION AS OF` parsing only exists for v2 catalogs those
    # jars provide. The seam is deliberately the same three methods
    # (write_snapshot / versions / read_snapshot) plus .sql(); a
    # deployment with the jars subclasses Warehouse, points write/read at
    # the catalog, and deletes the rewrite in .sql() — no stage or caller
    # changes. TxLogWarehouse below is the scale-true implementation of
    # this seam (atomic commit log, snapshot ids, file-shared history —
    # sources/txlog.py); this base class's copy-per-version directories
    # remain as the zero-machinery default for small stage hand-offs.
    # Shim divergences stay documented and tested: sequential integer
    # versions and .sql()'s literal/comment-aware rewriter
    # (test_sql_rewrite_skips_string_literals_and_comments).

    def write_snapshot(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> int:
        version = max(self.versions(name), default=0) + 1
        w = df.write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(*partition_by)
        vdir = os.path.join(self.path(name), f"v{version}")
        w.parquet(vdir)
        # Stamp commit wall-clock so TIMESTAMP AS OF resolves on this
        # backend too (txlog records ts_ms in its commit log; here the
        # underscore-prefixed sidecar is invisible to parquet readers,
        # like _SUCCESS). Clamped strictly monotonic per table — Delta
        # does the same — so clock skew can never order a later version
        # before an earlier one.
        import json as _json
        import time as _time

        ts_ms = int(_time.time() * 1000)
        if version > 1:
            ts_ms = max(ts_ms, self._commit_ts(name, version - 1) + 1)
        with open(os.path.join(vdir, "_commit_ts.json"), "w") as f:
            _json.dump({"ts_ms": ts_ms}, f)
        return version

    def _commit_ts(self, name: str, version: int) -> int:
        """Commit wall-clock of a snapshot (ms). Snapshots written before
        the stamp existed fall back to the version dir's mtime — the
        monotone envelope in version_at_timestamp absorbs any resulting
        disorder."""
        import json as _json

        vdir = os.path.join(self.path(name), f"v{version}")
        try:
            with open(os.path.join(vdir, "_commit_ts.json")) as f:
                return int(_json.load(f)["ts_ms"])
        except (FileNotFoundError, ValueError, KeyError):
            return int(os.path.getmtime(vdir) * 1000)

    def versions(self, name: str) -> list[int]:
        base = self.path(name)
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(base)
            if d.startswith("v") and d[1:].isdigit()
        )

    def read_snapshot(self, name: str, version: int | None = None) -> DataFrame:
        """Read a table VERSION AS OF `version` (latest when omitted)."""
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        v = version if version is not None else versions[-1]
        if v not in versions:
            raise ValueError(f"table {name} has no version {v} (has {versions})")
        return self.spark.read.parquet(os.path.join(self.path(name), f"v{v}"))

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def shallow_clone(
        self, name: str, dest: str, version: int | None = None
    ) -> int:
        """``CREATE TABLE dest SHALLOW CLONE name [VERSION AS OF n]`` on
        the snapshot-dir backend (round 11 — the CLONE verb previously
        refused here): the clone's ``v1`` HARDLINKS the source version's
        files, so no bytes move at any size — the same zero-copy
        contract as ``TableLog.shallow_clone``. Divergence is free both
        ways: snapshots on this backend are immutable copy-per-version
        directories, so later writes to either table create NEW version
        dirs and never touch the shared inodes; deleting either table
        only unlinks its own directory entries. Built in a temp dir and
        published with one atomic rename (no half-visible clone on a
        crash); cross-filesystem destinations refuse (a silent full
        copy would betray the zero-copy contract). Returns the clone's
        version (always 1 — history does not carry over)."""
        import errno
        import json as _json
        import shutil as _sh
        import time as _time
        import uuid as _uuid

        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise ValueError(
                f"table {name} has no version {v} (has {versions})"
            )
        if self.versions(dest):
            raise ValueError(f"clone destination {dest!r} already exists")
        src_dir = os.path.join(self.path(name), f"v{v}")
        dest_root = self.path(dest)
        os.makedirs(dest_root, exist_ok=True)
        tmp = os.path.join(dest_root, f".tmp-clone-{_uuid.uuid4().hex}")
        os.makedirs(tmp)
        try:
            for dirpath, _dirs, fnames in os.walk(src_dir):
                rel_dir = os.path.relpath(dirpath, src_dir)
                out_dir = (
                    tmp if rel_dir == "." else os.path.join(tmp, rel_dir)
                )
                os.makedirs(out_dir, exist_ok=True)
                for fname in fnames:
                    if fname == "_commit_ts.json":
                        continue  # the clone gets its own commit stamp
                    try:
                        os.link(
                            os.path.join(dirpath, fname),
                            os.path.join(out_dir, fname),
                        )
                    except OSError as e:
                        if e.errno == errno.EXDEV:
                            raise ValueError(
                                f"shallow clone requires {name!r} and "
                                f"{dest!r} on the SAME filesystem "
                                "(hardlink semantics ARE the zero-copy "
                                "contract)"
                            ) from e
                        raise ValueError(
                            f"shallow clone of {name!r} failed linking "
                            f"{fname!r}: {e}"
                        ) from e
            with open(os.path.join(tmp, "_commit_ts.json"), "w") as f:
                _json.dump({"ts_ms": int(_time.time() * 1000)}, f)
            os.rename(tmp, os.path.join(dest_root, "v1"))
        except BaseException:
            _sh.rmtree(tmp, ignore_errors=True)
            raise
        return 1

    # -- column DDL seam (ALTER TABLE … RENAME/ADD/DROP COLUMN, also
    # reachable through .sql()). This backend's snapshots are immutable
    # copy-per-version directories, so a column change writes the next
    # version with the evolved schema — the same cost as any write here.
    # TxLogWarehouse overrides all three with metadata-only commits
    # (column mapping / dropped-column tombstones, zero file rewrites).

    def _snapshot_partition_by(self, name: str, version: int) -> list[str]:
        """Partition columns of a snapshot, recovered from its hive
        directory layout (k=v path segments)."""
        d = os.path.join(self.path(name), f"v{version}")
        out: list[str] = []
        while True:
            subs = [
                s
                for s in os.listdir(d)
                if "=" in s and os.path.isdir(os.path.join(d, s))
            ]
            if not subs:
                return out
            out.append(subs[0].split("=", 1)[0])
            d = os.path.join(d, subs[0])

    def _alter_guard(self, name: str, col: str, verb: str) -> tuple[DataFrame, list[str]]:
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        part_by = self._snapshot_partition_by(name, versions[-1])
        if col in part_by:
            raise ValueError(
                f"cannot {verb} partition column {col!r}: its name is "
                "baked into the directory layout"
            )
        return self.read_snapshot(name), part_by

    def rename_column(self, name: str, old: str, new: str) -> int:
        df, part_by = self._alter_guard(name, old, "rename")
        if old not in df.columns:
            raise ValueError(f"no column {old!r} in table {name}")
        if new in df.columns:
            raise ValueError(f"column {new!r} already exists in table {name}")
        return self.write_snapshot(
            df.withColumnRenamed(old, new), name, partition_by=part_by or None
        )

    def add_column(self, name: str, col: str, dtype: str) -> int:
        return self.add_columns(name, [(col, dtype)])

    def add_columns(self, name: str, cols: list[tuple[str, str]]) -> int:
        """Multi-column ADD COLUMNS as ONE snapshot write: every name is
        validated against the live schema AND for intra-list duplicates
        before anything is written, so the ALTER is never half-applied."""
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        df = self.read_snapshot(name)
        seen: set[str] = set()
        for col, _dtype in cols:
            if col in df.columns:
                raise ValueError(
                    f"column {col!r} already exists in table {name}"
                )
            if col in seen:
                raise ValueError(
                    f"duplicate column name {col!r} in ADD COLUMNS list"
                )
            seen.add(col)
        part_by = self._snapshot_partition_by(name, versions[-1])
        for col, dtype in cols:
            df = df.withColumn(col, F.lit(None).cast(dtype))
        return self.write_snapshot(df, name, partition_by=part_by or None)

    def drop_column(self, name: str, col: str) -> int:
        df, part_by = self._alter_guard(name, col, "drop")
        if col not in df.columns:
            raise ValueError(f"no column {col!r} in table {name}")
        if len(df.columns) == 1:
            raise ValueError(
                f"cannot drop {col!r}: it is the last column of table {name}"
            )
        return self.write_snapshot(
            df.drop(col), name, partition_by=part_by or None
        )

    def alter_column_type(self, name: str, col: str, dtype: str) -> int:
        """ALTER COLUMN … TYPE — widening-only, same promotion matrix as
        the txlog backend (semantic parity across backends even though
        this one could cast anything: narrowing must refuse everywhere).
        This backend rewrites the next snapshot with the cast applied."""
        from pyspark.sql.types import StructType as _StructType

        from ..sources.txlog import _is_widening

        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        df = self.read_snapshot(name)
        if col not in df.columns:
            raise ValueError(f"no column {col!r} in table {name}")
        try:
            new_simple = (
                _StructType.fromDDL(f"`{col}` {dtype}")
                .fields[0]
                .dataType.simpleString()
            )
        except Exception:
            raise ValueError(f"cannot parse column type {dtype!r}") from None
        old_simple = df.schema[col].dataType.simpleString()
        if not _is_widening(old_simple, new_simple):
            raise ValueError(
                f"ALTER COLUMN {col!r} TYPE {old_simple} -> {new_simple} "
                "is not a supported widening"
            )
        part_by = self._snapshot_partition_by(name, versions[-1])
        out = df.withColumn(col, F.col(col).cast(new_simple))
        # preserve declared column order (withColumn keeps position)
        return self.write_snapshot(out, name, partition_by=part_by or None)

    def restore_table(self, name: str, version: int) -> int:
        """RESTORE TABLE … TO VERSION AS OF (Delta semantics: a NEW
        version with the target version's state — history stays
        auditable). This backend copies the target snapshot forward;
        txlog overrides with a metadata-only commit sharing the files."""
        part_by = self._snapshot_partition_by(name, version)
        return self.write_snapshot(
            self.read_snapshot(name, version), name, partition_by=part_by or None
        )

    _DETAIL_SCHEMA = (
        "format string, location string, version long, num_files long, "
        "size_bytes long, partition_columns array<string>, num_versions long, "
        "num_dv_files long, dv_positions long, clustered_by array<string>, "
        "num_buckets long"
    )

    def detail(self, name: str) -> DataFrame:
        """Delta-style DESCRIBE DETAIL: one row of physical table facts.
        Also reachable as SQL: ``wh.sql("DESCRIBE DETAIL <table>")``."""
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        v = versions[-1]
        vdir = os.path.join(self.path(name), f"v{v}")
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(vdir)
            for f in fs
            if f.endswith(".parquet")
        ]
        row = (
            "versioned-parquet",
            self.path(name),
            v,
            len(files),
            sum(os.path.getsize(f) for f in files),
            self._snapshot_partition_by(name, v),
            len(versions),
            0,  # this backend has no deletion vectors
            0,
            [],  # nor bucketed layouts
            0,
        )
        return self.spark.createDataFrame([row], self._DETAIL_SCHEMA)

    def optimize_table(
        self,
        name: str,
        n_files: int = 1,
        zorder_by: list[str] | None = None,
        where: list | None = None,
    ) -> int:
        """OPTIMIZE <table> [WHERE …] [ZORDER BY (…)]: small-file
        compaction as the next snapshot version on this backend (txlog
        overrides with its atomic remove-and-add commit over the shared
        data tree; scoped WHERE compaction is a txlog capability — this
        backend's copy-per-version snapshots rewrite wholesale anyway,
        so a WHERE here refuses rather than pretending to scope)."""
        if where:
            raise ValueError(
                "OPTIMIZE WHERE requires the txlog backend "
                "(TxLogWarehouse); this backend's snapshots are "
                "whole-table rewrites"
            )
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        df = self.read_snapshot(name)
        part_by = self._snapshot_partition_by(name, versions[-1])
        if zorder_by:
            if part_by:
                raise ValueError(
                    "zorder on a partitioned table re-fragments per "
                    "partition directory; drop ZORDER BY or departition"
                )
            from ..operators.zorder import z_order

            df = z_order(df, zorder_by, n_files)
        elif part_by:
            df = df.repartition(*part_by)
        else:
            df = df.repartition(n_files)
        return self.write_snapshot(df, name, partition_by=part_by or None)

    def files(self, name: str) -> DataFrame:
        """Iceberg-style ``table.files`` metadata relation (also SQL:
        ``DESCRIBE FILES <table>``). This backend lists the latest
        snapshot directory; txlog overrides with commit-log metadata
        including footer stats and deletion-vector counts."""
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        vdir = os.path.join(self.path(name), f"v{versions[-1]}")
        rows = []
        for d, _, fs in os.walk(vdir):
            for f in sorted(fs):
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(d, f)
                rel = os.path.relpath(full, vdir)
                pvals = {
                    seg.split("=", 1)[0]: seg.split("=", 1)[1]
                    for seg in rel.split(os.sep)[:-1]
                    if "=" in seg
                }
                rows.append((rel, None, os.path.getsize(full), pvals, {}, {}, 0))
        return self.spark.createDataFrame(
            rows,
            "path string, rows long, bytes long, "
            "partition_values map<string,string>, "
            "min_values map<string,string>, max_values map<string,string>, "
            "dv_positions long",
        )

    def vacuum_table(self, name: str, retain_last: int = 1) -> int:
        """VACUUM <table> [RETAIN n VERSIONS]: drop all but the last
        ``retain_last`` snapshot versions; returns how many versions were
        reclaimed. Time travel below the horizon then refuses, matching
        the txlog backend's vacuum contract."""
        import shutil

        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        victims = versions[: -max(1, retain_last)]
        for v in victims:
            shutil.rmtree(os.path.join(self.path(name), f"v{v}"))
        return len(victims)

    @staticmethod
    def _split_sql_segments(query: str) -> list[tuple[bool, str]]:
        """Split SQL into (is_code, text) segments so the time-travel
        rewrite never touches string literals, quoted identifiers, or
        comments. Handles ``'…'`` (with ``''`` escape), ``"…"``, ``…``
        (backtick), ``-- …`` line comments and ``/* … */`` blocks."""
        segments: list[tuple[bool, str]] = []
        i, n, start = 0, len(query), 0

        def flush_code(end: int) -> None:
            if end > start:
                segments.append((True, query[start:end]))

        while i < n:
            ch = query[i]
            if ch in ("'", '"', "`"):
                flush_code(i)
                j = i + 1
                while j < n:
                    if query[j] == ch:
                        if ch == "'" and j + 1 < n and query[j + 1] == "'":
                            j += 2  # doubled-quote escape
                            continue
                        j += 1
                        break
                    j += 1
                else:
                    j = n
                segments.append((False, query[i:j]))
                i = start = j
            elif ch == "-" and query[i : i + 2] == "--":
                flush_code(i)
                j = query.find("\n", i)
                j = n if j == -1 else j
                segments.append((False, query[i:j]))
                i = start = j
            elif ch == "/" and query[i : i + 2] == "/*":
                flush_code(i)
                j = query.find("*/", i + 2)
                j = n if j == -1 else j + 2
                segments.append((False, query[i:j]))
                i = start = j
            else:
                i += 1
        flush_code(n)
        return segments

    _HISTORY_SCHEMA = (
        "version long, ts_ms long, operation string, snapshot_id string, "
        "n_adds long, n_removes long"
    )

    def history(self, name: str) -> DataFrame:
        """Delta-style DESCRIBE HISTORY: one row per snapshot with commit
        wall-clock. The base backend's snapshots are whole-table writes,
        so file-level columns are null; the txlog backend overrides with
        real commit metadata. Also reachable as SQL:
        ``wh.sql("DESCRIBE HISTORY <table>")``."""
        if not self.versions(name):
            raise FileNotFoundError(f"no snapshots for table {name}")
        rows = [
            (v, self._commit_ts(name, v), "write_snapshot", None, None, None)
            for v in self.versions(name)
        ]
        return self.spark.createDataFrame(rows, self._HISTORY_SCHEMA)

    def version_at_timestamp(self, name: str, ts_ms: int) -> int:
        """Resolve TIMESTAMP AS OF to a snapshot version: the latest
        version whose commit time is at or before ``ts_ms`` (Delta/Iceberg
        semantics; same contract as TableLog.version_at). Commit times pass
        through a monotone envelope (running max) first, so mtime-backfilled
        pre-stamp snapshots can never resolve out of version order."""
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        best, seen = None, 0
        for v in versions:
            seen = max(seen, self._commit_ts(name, v))
            if seen <= ts_ms:
                best = v
        if best is None:
            raise ValueError(
                f"table {name} has no version at or before ts_ms={ts_ms}"
            )
        return best

    def _rewrite_timestamp_as_of(
        self, segments: list[tuple[bool, str]]
    ) -> list[tuple[bool, str]]:
        """``<table> TIMESTAMP AS OF '<iso>'`` spans a code segment (name +
        keywords) and a string-literal segment (the timestamp) — rewrite
        the pair into a versioned temp view. Literal-only occurrences of
        the phrase (inside strings/comments) never match because the
        keyword part must sit in a CODE segment."""
        import re
        from datetime import datetime, timezone

        pat = re.compile(r"\b(\w+)\s+TIMESTAMP\s+AS\s+OF\s*$", re.IGNORECASE)
        out = list(segments)
        for i, (is_code, text) in enumerate(out):
            if not is_code or i + 1 >= len(out):
                continue
            m = pat.search(text)
            nxt_is_code, nxt = out[i + 1]
            if not m or nxt_is_code or not nxt.startswith("'"):
                continue
            name = m.group(1)
            ts = datetime.fromisoformat(nxt.strip("'"))
            if ts.tzinfo is None:  # session timezone is pinned UTC
                ts = ts.replace(tzinfo=timezone.utc)
            version = self.version_at_timestamp(name, int(ts.timestamp() * 1000))
            view = f"__{name}_v{version}"
            self.read_snapshot(name, version).createOrReplaceTempView(view)
            out[i] = (True, text[: m.start()] + view)
            out[i + 1] = (True, "")
        return out

    def _rewrite_table_changes(
        self, segments: list[tuple[bool, str]]
    ) -> list[tuple[bool, str]]:
        """Delta's change-data-feed TVF surface:
        ``SELECT … FROM table_changes('t', from [, to])`` (or the bare
        identifier form ``table_changes(t, from [, to])``) rewrites to a
        temp view over the backend's batch change feed. The quoted form
        spans a code segment + a string literal + a code segment, so it
        resolves the same way TIMESTAMP AS OF does — literal-only
        occurrences inside strings/comments can never match. Backends
        without a commit log (whole-table snapshots) refuse loudly, like
        row-level SQL DML."""
        import re

        call = re.compile(
            r"\btable_changes\s*\(\s*`?(\w+)`?\s*,\s*(\d+)\s*"
            r"(?:,\s*(\d+)\s*)?\)",
            re.IGNORECASE,
        )
        open_pat = re.compile(r"\btable_changes\s*\(\s*$", re.IGNORECASE)
        args_pat = re.compile(r"^\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)")

        def _view(name: str, lo: int, hi: int | None) -> str:
            if not hasattr(self, "table_changes"):
                raise ValueError(
                    "table_changes() requires the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots are "
                    "whole-table writes with no commit-level change feed"
                )
            view = f"__tc_{name}_v{lo}_{'latest' if hi is None else hi}"
            self.table_changes(name, lo, hi).createOrReplaceTempView(view)
            return view

        out = list(segments)
        for i, (is_code, text) in enumerate(out):
            if not is_code:
                continue
            text = call.sub(
                lambda m: _view(
                    m.group(1),
                    int(m.group(2)),
                    int(m.group(3)) if m.group(3) else None,
                ),
                text,
            )
            m = open_pat.search(text)
            if m and i + 2 < len(out):
                s_is_code, sname = out[i + 1]
                c_is_code, ctext = out[i + 2]
                if not s_is_code and sname.startswith("'") and c_is_code:
                    m2 = args_pat.match(ctext)
                    if m2:
                        hi = int(m2.group(2)) if m2.group(2) else None
                        view = _view(
                            sname.strip("'"), int(m2.group(1)), hi
                        )
                        text = text[: m.start()] + view
                        out[i + 1] = (True, "")
                        out[i + 2] = (True, ctext[m2.end():])
            out[i] = (True, text)
        return out

    def sql(self, query: str) -> DataFrame:
        """SQL entry point with Iceberg-style time travel (reference
        README.md:143-154 verifies through ``SELECT … VERSION AS OF``).

        ``<table> VERSION AS OF <n>`` references are resolved against the
        warehouse snapshot store and swapped for temp views before the
        query reaches Spark's parser; bare warehouse table names resolve
        to the latest snapshot (or the plain table). Vanilla Spark only
        parses VERSION AS OF for v2 catalogs (Iceberg/Delta); this shim
        keeps the same user-facing SQL over the portable parquet backend
        — an Iceberg catalog would replace it with native parsing and no
        caller changes.

        Hardening (vs a naive regex pass): table names and VERSION AS OF
        clauses inside string literals, quoted identifiers, or comments
        are left untouched; and a temp view the USER registered under a
        warehouse table's name is never clobbered — it shadows the
        warehouse table, matching Spark's own temp-view-over-catalog
        resolution order. Known edge: if the user REPLACES a view this
        warehouse itself registered earlier in the same session, the next
        .sql() re-shadows it (the catalog API cannot distinguish the two);
        pick an unclaimed name for user views over warehouse tables."""
        import re

        m_hist = re.match(
            r"\s*DESCRIBE\s+HISTORY\s+`?(\w+)`?\s*;?\s*$", query, re.IGNORECASE
        )
        if m_hist:
            # Delta's DESCRIBE HISTORY, portable across both backends
            return self.history(m_hist.group(1))

        # ALTER TABLE column DDL, portable across both backends (the base
        # backend rewrites the next snapshot; txlog commits metadata only).
        # Returns a one-row confirmation with the new table version —
        # Spark's own DDL returns an empty frame, but the version is the
        # useful fact here (it is what VERSION AS OF takes).
        m_alter = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+(?:"
            r"RENAME\s+COLUMN\s+`?(\w+)`?\s+TO\s+`?(\w+)`?"
            r"|ADD\s+COLUMNS?\s+([`\w()\s,]+?)"
            r"|DROP\s+COLUMNS?\s*\(?\s*`?(\w+)`?\s*\)?"
            r"|ALTER\s+COLUMN\s+`?(\w+)`?\s+TYPE\s+([\w()\s,]+?)"
            r")\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        # CHECK-constraint DDL (Delta syntax; round 9): metadata commits
        # on the txlog backend — ADD validates existing rows first, then
        # every later write/merge/update enforces in one aggregate pass
        m_con = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+(?:"
            r"ADD\s+CONSTRAINT\s+`?(\w+)`?\s+CHECK\s*\((.+)\)"
            r"|DROP\s+CONSTRAINT\s+`?(\w+)`?"
            r")\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_con:
            t = m_con.group(1)
            if not hasattr(self, "_log"):
                raise ValueError(
                    "CHECK constraints require the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots carry no "
                    "constraint metadata"
                )
            if m_con.group(2):
                op = "ADD CONSTRAINT"
                v = self._log(t).add_constraint(
                    m_con.group(2), m_con.group(3).strip()
                )
            else:
                op = "DROP CONSTRAINT"
                v = self._log(t).drop_constraint(m_con.group(4))
            return self.spark.createDataFrame(
                [(t, op, v)],
                "table_name string, operation string, version long",
            )

        # column DEFAULT DDL (round 10; Spark/Delta syntax): metadata
        # commits; later INSERTs whose column list omits the column take
        # the default instead of NULL
        m_dflt = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ALTER\s+COLUMN\s+`?(\w+)`?"
            r"\s+(?:SET\s+DEFAULT\s+(.+?)|(DROP\s+DEFAULT))\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_dflt:
            t = m_dflt.group(1)
            if not hasattr(self, "_log"):
                raise ValueError(
                    "column DEFAULTs require the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots carry no "
                    "default metadata"
                )
            if m_dflt.group(4):
                op = "DROP DEFAULT"
                v = self._log(t).drop_default(m_dflt.group(2))
            else:
                op = "SET DEFAULT"
                v = self._log(t).set_default(
                    m_dflt.group(2), m_dflt.group(3).strip()
                )
            return self.spark.createDataFrame(
                [(t, op, v)],
                "table_name string, operation string, version long",
            )

        # generated / identity column DDL (round 11; Delta's GENERATED
        # ALWAYS AS, surfaced through ALTER like the SET DEFAULT family):
        # metadata commits; later INSERT/MERGE writes compute the column
        m_gen = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ALTER\s+COLUMN\s+`?(\w+)`?"
            r"\s+(?:SET\s+GENERATED\s+ALWAYS\s+AS\s+(?:"
            r"IDENTITY(?:\s*\(\s*START\s+WITH\s+(-?\d+)"
            r"(?:\s+INCREMENT\s+BY\s+(-?\d+))?\s*\))?"
            r"|\((.+)\))"
            r"|(DROP\s+GENERATED))\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_gen:
            t = m_gen.group(1)
            if not hasattr(self, "_log"):
                raise ValueError(
                    "generated columns require the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots carry no "
                    "generated-column metadata"
                )
            if m_gen.group(6):
                op = "DROP GENERATED"
                v = self._log(t).drop_generated(m_gen.group(2))
            elif m_gen.group(5):
                op = "SET GENERATED ALWAYS AS"
                v = self._log(t).set_generated(
                    m_gen.group(2), expr=m_gen.group(5).strip()
                )
            else:
                op = "SET GENERATED ALWAYS AS IDENTITY"
                v = self._log(t).set_generated(
                    m_gen.group(2),
                    identity=True,
                    start=int(m_gen.group(3) or 1),
                    step=int(m_gen.group(4) or 1),
                )
            return self.spark.createDataFrame(
                [(t, op, v)],
                "table_name string, operation string, version long",
            )

        # table properties (round 11; Delta/Spark syntax): SET acts on
        # delta.enableChangeDataFeed — CoW MERGE/DELETE commits then
        # write precise CDC sidecars (see TableLog.set_properties)
        m_props = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+"
            r"(?:SET\s+TBLPROPERTIES\s*\((.+)\)"
            r"|UNSET\s+TBLPROPERTIES\s*\((.+)\))\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_props:
            t = m_props.group(1)
            if not hasattr(self, "_log"):
                raise ValueError(
                    "TBLPROPERTIES require the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots carry no "
                    "property metadata"
                )

            def _unq(s: str) -> str:
                s = s.strip()
                if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
                    return s[1:-1].replace("''", "'")
                return s

            if m_props.group(2):
                pairs = {}
                for item in _split_in_list(m_props.group(2)):
                    k, eq, val = item.partition("=")
                    if not eq:
                        raise ValueError(
                            f"cannot parse TBLPROPERTIES pair {item!r}; "
                            "expected 'key' = 'value'"
                        )
                    pairs[_unq(k)] = _unq(val)
                op = "SET TBLPROPERTIES"
                v = self._log(t).set_properties(pairs)
            else:
                keys = [
                    _unq(k) for k in _split_in_list(m_props.group(3))
                ]
                op = "UNSET TBLPROPERTIES"
                v = self._log(t).unset_properties(keys)
            return self.spark.createDataFrame(
                [(t, op, v)],
                "table_name string, operation string, version long",
            )

        m_files = re.match(
            r"\s*DESCRIBE\s+FILES\s+`?(\w+)`?\s*;?\s*$", query, re.IGNORECASE
        )
        if m_files:
            return self.files(m_files.group(1))

        # SHALLOW CLONE (round 10; Delta's zero-copy dev/test fork):
        # CREATE TABLE t2 SHALLOW CLONE t1 [VERSION AS OF n |
        # TIMESTAMP AS OF ms] — hardlinked snapshot fork, no bytes move
        m_clone = re.match(
            r"\s*CREATE\s+TABLE\s+`?(\w+)`?\s+SHALLOW\s+CLONE\s+`?(\w+)`?"
            r"(?:\s+VERSION\s+AS\s+OF\s+(\d+)"
            r"|\s+TIMESTAMP\s+AS\s+OF\s+(\d+))?\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_clone:
            # both backends clone zero-copy since round 11: txlog forks
            # the snapshot's file references; the snapshot-dir backend
            # hardlinks the version directory (Warehouse.shallow_clone)
            dst, src_t = m_clone.group(1), m_clone.group(2)
            if not self.exists(src_t):
                raise ValueError(f"clone source {src_t!r} does not exist")
            ver = int(m_clone.group(3)) if m_clone.group(3) else None
            if m_clone.group(4):
                ver = self.version_at_timestamp(
                    src_t, int(m_clone.group(4))
                )
            v = self.shallow_clone(src_t, dst, version=ver)
            return self.spark.createDataFrame(
                [(dst, "SHALLOW CLONE", v)],
                "table_name string, operation string, version long",
            )

        # CREATE TABLE with an explicit column list (round 12): Delta's
        # declare-before-first-write surface — GENERATED ALWAYS AS /
        # IDENTITY, DEFAULT, PARTITIONED BY, CLUSTERED BY … INTO n
        # BUCKETS and TBLPROPERTIES all land in the version-1 commit of
        # an EMPTY table, so the very first data write already satisfies
        # every declared invariant (closes round 11's ALTER-only gap).
        m_newtab = re.match(
            r"\s*CREATE\s+TABLE\s+`?(\w+)`?\s*\(", query, re.IGNORECASE
        )
        if m_newtab:
            t = m_newtab.group(1)
            # balanced-paren scan for the column list (types and
            # generated expressions nest parens; regexes can't)
            i = m_newtab.end() - 1
            depth, j, n = 0, i, len(query)
            while j < n:
                ch = query[j]
                if ch == "'":
                    k = query.find("'", j + 1)
                    j = n if k < 0 else k + 1
                    continue
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise ValueError(
                    f"unbalanced parentheses in CREATE TABLE: {query!r}"
                )
            coldefs, tail = query[i + 1 : j], query[j + 1 :]
            m_tail = re.match(
                r"\s*(?:PARTITIONED\s+BY\s*\(([^)]+)\)\s*)?"
                r"(?:CLUSTERED\s+BY\s*\(([^)]+)\)\s*"
                r"(?:SORTED\s+BY\s*\(([^)]+)\)\s*)?"
                r"INTO\s+(\d+)\s+BUCKETS\s*)?"
                r"(?:TBLPROPERTIES\s*\(([^)]*)\)\s*)?;?\s*$",
                tail,
                re.IGNORECASE | re.DOTALL,
            )
            if not m_tail:
                raise ValueError(
                    f"cannot parse CREATE TABLE clauses {tail!r} "
                    "(supported: PARTITIONED BY | CLUSTERED BY … INTO n "
                    "BUCKETS | TBLPROPERTIES; CTAS uses `CREATE TABLE t "
                    "AS SELECT …` without a column list)"
                )
            if not hasattr(self, "_log"):
                raise ValueError(
                    "CREATE TABLE with column definitions requires the "
                    "txlog backend (TxLogWarehouse); this backend's "
                    "snapshots carry no declare-time metadata"
                )
            if self.exists(t):
                raise ValueError(
                    f"table {t!r} already exists; CREATE TABLE never "
                    "clobbers data"
                )
            fields, gen, dflts = _parse_column_defs(coldefs)
            split = lambda g: (
                [c.strip(" `") for c in g.split(",")] if g else None
            )
            part, bcols, scols = (
                split(m_tail.group(1)),
                split(m_tail.group(2)),
                split(m_tail.group(3)),
            )
            props = (
                _parse_props_body(m_tail.group(5))
                if m_tail.group(5)
                else None
            )
            v = self.create_table(
                t,
                ", ".join(fields),
                partition_by=part,
                bucket_by=(int(m_tail.group(4)), bcols) if bcols else None,
                sort_by=scols,
                generated=gen or None,
                defaults=dflts or None,
                properties=props,
            )
            return self.spark.createDataFrame(
                [(t, "CREATE TABLE", v)],
                "table_name string, operation string, version long",
            )

        # CTAS with optional partition/bucket layout (round 8): the SELECT
        # runs back through .sql() so VERSION AS OF / table_changes() /
        # warehouse table references all resolve inside it. CREATE TABLE
        # refuses when the table already exists (Spark/Delta/Iceberg
        # TableAlreadyExists semantics — a bare CTAS must never clobber
        # data); CREATE OR REPLACE TABLE is the explicit-overwrite form.
        m_ctas = re.match(
            r"\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+`?(\w+)`?\s*"
            r"(?:PARTITIONED\s+BY\s*\(([^)]+)\)\s*)?"
            r"(?:CLUSTERED\s+BY\s*\(([^)]+)\)\s*"
            r"(?:SORTED\s+BY\s*\(([^)]+)\)\s*)?"
            r"INTO\s+(\d+)\s+BUCKETS\s*)?"
            r"(?:TBLPROPERTIES\s*\(([^)]*)\)\s*)?"
            r"AS\s+(SELECT\b.+?)\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_ctas:
            replace = bool(m_ctas.group(1))
            t = m_ctas.group(2)
            if not replace and self.exists(t):
                raise ValueError(
                    f"table {t!r} already exists; use CREATE OR REPLACE "
                    "TABLE … AS to overwrite it"
                )
            split = lambda g: (
                [c.strip(" `") for c in g.split(",")] if g else None
            )
            part, bcols, scols = (
                split(m_ctas.group(3)), split(m_ctas.group(4)),
                split(m_ctas.group(5)),
            )
            props = (
                _parse_props_body(m_ctas.group(7))
                if m_ctas.group(7)
                else None
            )
            if props is not None and not hasattr(self, "_log"):
                raise ValueError(
                    "TBLPROPERTIES require the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots carry no "
                    "property metadata"
                )
            prop_kw = {"properties": props} if props is not None else {}
            df = self.sql(m_ctas.group(8))
            if bcols:
                # capability check up front (never catch TypeError around
                # the write — an unrelated TypeError from Spark or user
                # data must not be misreported as a backend gap)
                import inspect as _inspect

                if "bucket_by" not in _inspect.signature(
                    self.write_snapshot
                ).parameters:
                    raise ValueError(
                        "CLUSTERED BY … INTO n BUCKETS requires the txlog "
                        "backend (TxLogWarehouse); this backend's snapshots "
                        "have no bucket layout"
                    )
                v = self.write_snapshot(
                    df, t, partition_by=part,
                    bucket_by=(int(m_ctas.group(6)), bcols),
                    sort_by=scols, **prop_kw,
                )
            else:
                v = self.write_snapshot(df, t, partition_by=part, **prop_kw)
            return self.spark.createDataFrame(
                [(t, "CREATE OR REPLACE TABLE AS" if replace
                  else "CREATE TABLE AS", v)],
                "table_name string, operation string, version long",
            )

        # INSERT INTO … VALUES / SELECT (round 9): the day-one append
        # verb. VALUES rows parse with the WHERE-literal grammar (+NULL)
        # and coerce to the table's schema; a column list fills the rest
        # with NULL; the SELECT form runs back through .sql() so time
        # travel / table_changes() resolve inside it. Appends on the
        # txlog backend are atomic commits; the base backend appends by
        # writing the next snapshot (same cost as any write there).
        m_ins = re.match(
            r"\s*INSERT\s+INTO\s+`?(\w+)`?\s*"
            r"(?:\(([^)]+)\)\s*)?"
            r"(?:VALUES\s*(.+?)|(SELECT\b.+?))\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_ins:
            t = m_ins.group(1)
            cols = (
                [c.strip(" `") for c in m_ins.group(2).split(",")]
                if m_ins.group(2)
                else None
            )
            target = self.read_snapshot(t).schema
            # ONE defaults/generated fetch per statement (advice r10: it
            # ran once per DEFAULT cell plus once more for the
            # unlisted-column fill — O(rows) driver queries)
            if hasattr(self, "_log") and self.exists(t):
                _snap = self._log(t).snapshot()
                defaults, genmeta = _snap.defaults, _snap.generated
                # appends extend the table's standing partition layout
                # (TableLog.write is spec-strict by contract)
                part_spec = list(_snap.partition_by or []) or None
            else:
                defaults, genmeta, part_spec = {}, {}, None
            if genmeta:
                listed = cols if cols is not None else list(target.names)
                bad = sorted(set(listed) & set(genmeta))
                if bad:
                    hint = (
                        "use an explicit column list omitting them"
                        if cols is None
                        else "omit them from the column list"
                    )
                    raise ValueError(
                        f"INSERT may not provide generated column(s) "
                        f"{bad} (GENERATED ALWAYS — the engine computes "
                        f"them); {hint}"
                    )
            if m_ins.group(4):
                df = self.sql(m_ins.group(4))
                # INSERT … SELECT binds POSITIONALLY (SQL semantics):
                # the SELECT's outputs map onto the column list — or the
                # full table schema when no list is given — by position,
                # never by the SELECT's own output names
                bind = cols or list(target.names)
                if len(bind) != len(df.columns):
                    raise ValueError(
                        f"INSERT binds {len(bind)} column(s) "
                        f"({bind}) but the SELECT produces "
                        f"{len(df.columns)}"
                    )
                df = df.toDF(*bind)
            else:
                rows = _parse_values_rows(m_ins.group(3))
                names = cols or [f.name for f in target.fields]
                bad = [c for c in names if c not in target.names]
                if bad:
                    raise ValueError(
                        f"INSERT columns {bad} not in table {t!r} "
                        f"(has {list(target.names)})"
                    )
                for i, r in enumerate(rows):
                    if len(r) != len(names):
                        raise ValueError(
                            f"INSERT VALUES row {i + 1} has {len(r)} "
                            f"values for {len(names)} columns"
                        )
                from pyspark.sql.types import StructType as _St

                _default_memo: dict = {}

                def _resolve_default(col: str, dtype) -> object:
                    # the explicit DEFAULT keyword: the declared default
                    # evaluated driver-side (ANSI: no declared default
                    # means NULL), memoized per column for the statement
                    # (advice r10: one driver round-trip per DEFAULT
                    # cell; set_default validated the expression as a
                    # constant, so one evaluation is the statement's)
                    if col in _default_memo:
                        return _default_memo[col]
                    expr = defaults.get(col)
                    val = (
                        None
                        if expr is None
                        else self.spark.sql(
                            f"SELECT CAST(({expr}) AS "
                            f"{dtype.simpleString()})"
                        ).head()[0]
                    )
                    _default_memo[col] = val
                    return val

                sub = _St([target[c] for c in names])
                coerced = [
                    tuple(
                        _resolve_default(names[j], sub[j].dataType)
                        if v is _DEFAULT
                        else _coerce_literal(v, sub[j].dataType)
                        for j, v in enumerate(r)
                    )
                    for r in rows
                ]
                df = self.spark.createDataFrame(coerced, sub)
            # columns the INSERT omitted take their declared DEFAULT
            # (round 10) and otherwise read NULL (SQL semantics);
            # GENERATED columns stay ABSENT — the txlog write computes/
            # allocates them (round 11), and subset-schema appends are
            # first-class on that backend
            for f in target.fields:
                if f.name not in df.columns and f.name not in genmeta:
                    fill = (
                        F.expr(defaults[f.name])
                        if f.name in defaults
                        else F.lit(None)
                    )
                    df = df.withColumn(f.name, fill.cast(f.dataType))
            df = df.select(
                *[df[f.name] for f in target.fields if f.name in df.columns]
            )
            n = df.count()
            if hasattr(self, "append"):
                v = self.append(df, t, partition_by=part_spec)
            else:
                v = self.write_snapshot(
                    self.read_snapshot(t).unionByName(df), t
                )
            return self.spark.createDataFrame(
                [(t, "INSERT INTO", v, n)],
                "table_name string, operation string, version long, rows long",
            )

        # DELETE without WHERE / TRUNCATE TABLE (round 9): whole-table
        # clear as one commit — the surviving snapshot is the empty
        # table under the SAME schema; history stays time-travelable.
        m_trunc = re.match(
            r"\s*(?:TRUNCATE\s+TABLE|DELETE\s+FROM)\s+`?(\w+)`?\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_trunc:
            t = m_trunc.group(1)
            cur = self.read_snapshot(t)
            n = cur.count()
            spec = (
                self._log(t).snapshot().bucket_by
                if hasattr(self, "_log")
                else {}
            )
            if spec:
                # a bucketed table keeps its declared layout across
                # TRUNCATE (Hive semantics: truncation clears rows, not
                # table metadata)
                v = self.write_snapshot(
                    cur.limit(0),
                    t,
                    bucket_by=(spec["n"], list(spec["cols"])),
                    sort_by=list(spec.get("sort") or []) or None,
                )
            else:
                v = self.write_snapshot(cur.limit(0), t)
            return self.spark.createDataFrame(
                [(t, "TRUNCATE", v, n)],
                "table_name string, operation string, version long, rows long",
            )

        m_del = re.match(
            r"\s*DELETE\s+FROM\s+`?(\w+)`?\s+WHERE\s+(.+?)\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_del:
            t = m_del.group(1)
            if not hasattr(self, "delete"):
                raise ValueError(
                    "row-level SQL DML requires the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots are "
                    "whole-table writes"
                )
            res = self.delete(t, _parse_where(m_del.group(2)))
            return self.spark.createDataFrame(
                [(t, "DELETE", res["version"], res.get("rows_deleted"))],
                "table_name string, operation string, version long, rows long",
            )

        m_upd = re.match(
            r"\s*UPDATE\s+`?(\w+)`?\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_upd:
            t = m_upd.group(1)
            if not hasattr(self, "update"):
                raise ValueError(
                    "row-level SQL DML requires the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots are "
                    "whole-table writes"
                )
            sets = {}
            # quote/paren-aware split: 'v = round(x, 2), s = 'a,b'' is
            # two assignments, not four fragments
            for assign in _split_in_list(m_upd.group(2)):
                col, _, expr = assign.partition("=")
                if not expr:
                    raise ValueError(f"cannot parse SET clause {assign!r}")
                sets[col.strip(" `")] = expr.strip()
            res = self.update(
                t, _parse_where(m_upd.group(3)), sets
            )
            return self.spark.createDataFrame(
                [(t, "UPDATE", res["version"], res.get("rows_updated"))],
                "table_name string, operation string, version long, rows long",
            )

        m_merge = re.match(
            r"\s*MERGE\s+(WITH\s+SCHEMA\s+EVOLUTION\s+)?"
            r"INTO\s+`?(\w+)`?(?:\s+AS\s+(\w+)|\s+(\w+))?"
            r"\s+USING\s+`?(\w+)`?(?:\s+AS\s+(\w+)|\s+(\w+))?"
            r"\s+ON\s+(.+)$",
            query.rstrip().rstrip(";"),
            re.IGNORECASE | re.DOTALL,
        )
        if m_merge:
            # the FULL multi-branch MERGE grammar (round 10): equality
            # ON terms, then any ordered mix of
            #   WHEN MATCHED [AND cond] THEN UPDATE SET (*|col=expr,…)
            #   WHEN MATCHED [AND cond] THEN DELETE
            #   WHEN NOT MATCHED [AND cond] THEN INSERT *
            #   WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …
            #   WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE
            # Clauses are split structurally on top-level WHEN tokens
            # (string literals respected), so the phrase 'NOT MATCHED BY
            # SOURCE' inside a literal or condition can never enable
            # full-sync semantics by accident. Everything richer (non-
            # equality ON) is refused loudly — use the merge() API.
            #
            # Round 11 — MERGE WITH SCHEMA EVOLUTION (the Spark 4 /
            # Delta CDC-apply statement against an evolving source):
            # source columns absent from the table extend the schema as
            # nullable, clause assignments may target them. Delta's
            # session conf spark.databricks.delta.schema.autoMerge.
            # enabled switches the same behavior on for every MERGE in
            # the session (both map onto merge(schema_evolution=True)).
            t, src = m_merge.group(2), m_merge.group(5)
            t_alias = m_merge.group(3) or m_merge.group(4) or t
            s_alias = m_merge.group(6) or m_merge.group(7) or src
            evolve = bool(m_merge.group(1)) or (
                str(
                    self.spark.conf.get(
                        "spark.databricks.delta.schema.autoMerge.enabled",
                        "false",
                    )
                ).lower()
                == "true"
            )
            if not hasattr(self, "merge"):
                raise ValueError(
                    "MERGE INTO requires the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots are "
                    "whole-table writes"
                )
            if t_alias.lower() == s_alias.lower():
                raise ValueError(
                    f"MERGE target and source aliases collide ({t_alias!r})"
                    " — alias one side differently"
                )
            segments = _split_top_level_when(m_merge.group(8))
            on = segments[0]
            if len(segments) < 2:
                raise ValueError(
                    "MERGE requires at least one WHEN clause"
                )
            if re.search(r"\(|\)|\bOR\b", on, re.IGNORECASE):
                raise ValueError(
                    "MERGE ON supports a plain AND of equality terms "
                    "only — use the merge() API for richer predicates"
                )
            keys = []
            for term in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
                m_eq = re.match(
                    r"^\s*`?(\w+)`?\s*\.\s*`?(\w+)`?\s*=\s*"
                    r"`?(\w+)`?\s*\.\s*`?(\w+)`?\s*$",
                    term,
                )
                if not m_eq:
                    raise ValueError(
                        f"cannot parse MERGE ON term {term.strip()!r}; "
                        "expected <target>.<col> = <source>.<col>"
                    )
                quals = {m_eq.group(1): m_eq.group(2), m_eq.group(3): m_eq.group(4)}
                if set(quals) != {t_alias, s_alias}:
                    raise ValueError(
                        f"MERGE ON term {term.strip()!r} must reference "
                        f"both {t_alias!r} and {s_alias!r}"
                    )
                if quals[t_alias] != quals[s_alias]:
                    raise ValueError(
                        "MERGE ON requires same-named key columns on both "
                        f"sides, got {quals[t_alias]!r} vs {quals[s_alias]!r}"
                    )
                keys.append(quals[t_alias])
            if self.exists(src):
                source = self.read(src)
            elif self.spark.catalog.tableExists(src):
                source = self.spark.table(src)
            else:
                raise ValueError(
                    f"MERGE source {src!r} is neither a warehouse table "
                    "nor a registered view"
                )

            def _parse_set(assigns: str, aliases: str) -> dict:
                out = {}
                for assign in _split_in_list(assigns):
                    lhs, eq, rhs = assign.partition("=")
                    if not eq:
                        raise ValueError(
                            f"cannot parse UPDATE SET assignment {assign!r}"
                        )
                    lhs = lhs.strip(" `")
                    if "." in lhs:
                        qual, _, col = lhs.partition(".")
                        if qual.strip(" `") != t_alias:
                            raise ValueError(
                                f"UPDATE SET target {lhs!r} must be a "
                                f"column of {t_alias!r}"
                            )
                        lhs = col.strip(" `")
                    out[lhs] = _canon_merge_expr(
                        rhs.strip(), t_alias, s_alias, aliases
                    )
                return out

            matched: list[dict] = []
            nmbs: list[dict] = []
            inserts: list[dict] = []
            for seg in segments[1:]:
                head, action = _split_top_level_then(seg)
                m_h = re.match(
                    r"^\s*NOT\s+MATCHED\s+BY\s+SOURCE"
                    r"(?:\s+AND\s+(.+))?\s*$",
                    head, re.IGNORECASE | re.DOTALL,
                )
                kind = None
                if m_h:
                    kind = "nmbs"
                else:
                    m_h = re.match(
                        r"^\s*NOT\s+MATCHED(?:\s+BY\s+TARGET)?"
                        r"(?:\s+AND\s+(.+))?\s*$",
                        head, re.IGNORECASE | re.DOTALL,
                    )
                    if m_h:
                        kind = "insert"
                    else:
                        m_h = re.match(
                            r"^\s*MATCHED(?:\s+AND\s+(.+))?\s*$",
                            head, re.IGNORECASE | re.DOTALL,
                        )
                        if m_h:
                            kind = "matched"
                if kind is None:
                    raise ValueError(
                        f"cannot parse MERGE clause 'WHEN {seg.strip()}'"
                    )
                cond = m_h.group(1)
                m_del = re.match(r"^\s*DELETE\s*$", action, re.IGNORECASE)
                m_upd = re.match(
                    r"^\s*UPDATE\s+SET\s+(.+)$",
                    action, re.IGNORECASE | re.DOTALL,
                )
                m_ins = re.match(
                    r"^\s*INSERT\s+\*\s*$", action, re.IGNORECASE
                )
                m_ins_cols = re.match(
                    r"^\s*INSERT\s*\(\s*([\w\s,`]+?)\s*\)\s*"
                    r"VALUES\s*\((.+)\)\s*$",
                    action, re.IGNORECASE | re.DOTALL,
                )
                if kind == "insert":
                    c_cond = (
                        _canon_merge_expr(cond.strip(), t_alias, s_alias, "s")
                        if cond is not None
                        else None
                    )
                    if m_ins:
                        sets = None  # INSERT *
                    elif m_ins_cols:
                        cols = [
                            c.strip(" `")
                            for c in m_ins_cols.group(1).split(",")
                        ]
                        exprs = _split_in_list(m_ins_cols.group(2))
                        if len(cols) != len(exprs):
                            raise ValueError(
                                f"INSERT column list has {len(cols)} "
                                f"columns but VALUES has {len(exprs)} "
                                "expressions"
                            )
                        sets = {
                            c: _canon_merge_expr(e, t_alias, s_alias, "s")
                            for c, e in zip(cols, exprs)
                        }
                    else:
                        raise ValueError(
                            "WHEN NOT MATCHED supports THEN INSERT * or "
                            "INSERT (cols) VALUES (exprs), got "
                            f"{action.strip()!r}"
                        )
                    inserts.append({"condition": c_cond, "set": sets})
                    continue
                aliases = "ts" if kind == "matched" else "t_bare"
                c_cond = (
                    _canon_merge_expr(cond.strip(), t_alias, s_alias, aliases)
                    if cond is not None
                    else None
                )
                if m_del:
                    clause = {"action": "delete", "condition": c_cond}
                elif m_upd:
                    sets = m_upd.group(1).strip()
                    if sets == "*":
                        if kind == "nmbs":
                            raise ValueError(
                                "WHEN NOT MATCHED BY SOURCE THEN UPDATE "
                                "requires explicit SET assignments"
                            )
                        clause = {
                            "action": "update",
                            "condition": c_cond,
                            "set": None,
                        }
                    else:
                        clause = {
                            "action": "update",
                            "condition": c_cond,
                            "set": _parse_set(sets, aliases),
                        }
                else:
                    raise ValueError(
                        f"cannot parse MERGE action {action.strip()!r}; "
                        "expected DELETE or UPDATE SET …"
                    )
                (matched if kind == "matched" else nmbs).append(clause)
            for grp, label in ((matched, "WHEN MATCHED"),
                               (inserts, "WHEN NOT MATCHED"),
                               (nmbs, "WHEN NOT MATCHED BY SOURCE")):
                for cl in grp[:-1]:
                    if cl["condition"] is None:
                        raise ValueError(
                            f"only the LAST {label} clause may omit its "
                            "AND condition (earlier unconditional clauses "
                            "make later ones unreachable — Delta refuses "
                            "this too)"
                        )
            res = self.merge(
                source, t, keys,
                matched_clauses=matched,
                not_matched_clauses=inserts,
                not_matched_by_source_clauses=nmbs or None,
                schema_evolution=evolve,
            )
            return self.spark.createDataFrame(
                [(t, "MERGE", res["version"], res.get("rows_written"))],
                "table_name string, operation string, version long, rows long",
            )

        m_detail = re.match(
            r"\s*DESCRIBE\s+DETAIL\s+`?(\w+)`?\s*;?\s*$", query, re.IGNORECASE
        )
        if m_detail:
            return self.detail(m_detail.group(1))

        m_opt = re.match(
            r"\s*OPTIMIZE\s+`?(\w+)`?"
            r"(?:\s+WHERE\s+(.+?))?"
            r"(?:\s+ZORDER\s+BY\s*\(\s*([\w\s,`]+?)\s*\))?\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_opt:
            t = m_opt.group(1)
            zcols = (
                [c.strip(" `") for c in m_opt.group(3).split(",")]
                if m_opt.group(3)
                else None
            )
            where = (
                _parse_where(m_opt.group(2)) if m_opt.group(2) else None
            )
            v = self.optimize_table(t, zorder_by=zcols, where=where)
            return self.spark.createDataFrame(
                [(t, "OPTIMIZE", v)],
                "table_name string, operation string, version long",
            )

        # REORG TABLE … APPLY (PURGE) (round 12): Delta's scoped
        # deletion-vector purge — rewrite ONLY the dv-carrying files
        m_reorg = re.match(
            r"\s*REORG\s+TABLE\s+`?(\w+)`?\s+APPLY\s*\(\s*PURGE\s*\)"
            r"\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_reorg:
            t = m_reorg.group(1)
            if not hasattr(self, "_log"):
                raise ValueError(
                    "REORG APPLY (PURGE) requires the txlog backend "
                    "(TxLogWarehouse); only its snapshots carry deletion "
                    "vectors"
                )
            res = self._log(t).reorg_purge()
            return self.spark.createDataFrame(
                [
                    (
                        t,
                        "REORG APPLY (PURGE)",
                        res["version"],
                        res["files_purged"],
                    )
                ],
                "table_name string, operation string, version long, "
                "files_purged long",
            )

        m_vac = re.match(
            r"\s*VACUUM\s+`?(\w+)`?(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_vac:
            t = m_vac.group(1)
            n = self.vacuum_table(
                t, retain_last=int(m_vac.group(2) or 1)
            )
            return self.spark.createDataFrame(
                [(t, "VACUUM", n)],
                "table_name string, operation string, removed long",
            )

        m_restore = re.match(
            r"\s*RESTORE\s+TABLE\s+`?(\w+)`?\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)"
            r"\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_restore:
            t = m_restore.group(1)
            v = self.restore_table(t, int(m_restore.group(2)))
            return self.spark.createDataFrame(
                [(t, "RESTORE", v)],
                "table_name string, operation string, version long",
            )

        if m_alter:
            t = m_alter.group(1)
            if m_alter.group(2):
                op = "RENAME COLUMN"
                v = self.rename_column(t, m_alter.group(2), m_alter.group(3))
            elif m_alter.group(4):
                op = "ADD COLUMN"
                # multi-column form: 'ADD COLUMNS (a INT, b STRING)' — split
                # on TOP-LEVEL commas only (DECIMAL(10,2) carries its own),
                # so every listed column is added, not just the first with
                # the rest silently swallowed into its dtype
                spec = m_alter.group(4).strip()
                if spec.startswith("(") and spec.endswith(")"):
                    spec = spec[1:-1]
                cols, depth, cur = [], 0, []
                for ch in spec:
                    if ch == "(":
                        depth += 1
                    elif ch == ")":
                        depth -= 1
                    if ch == "," and depth == 0:
                        cols.append("".join(cur))
                        cur = []
                    else:
                        cur.append(ch)
                if "".join(cur).strip():
                    cols.append("".join(cur))
                parsed = []
                for cspec in cols:
                    cname, _, dtype = cspec.strip().partition(" ")
                    cname, dtype = cname.strip("`"), dtype.strip()
                    if not cname or not dtype:
                        # validate EVERY spec before adding ANY column so a
                        # bad spec never leaves a half-applied ALTER
                        raise ValueError(
                            f"cannot parse ADD COLUMNS spec {cspec.strip()!r};"
                            " expected '<name> <dtype>'"
                        )
                    parsed.append((cname, dtype))
                # single atomic application: name collisions (live schema
                # or intra-list) are rejected before anything commits
                v = self.add_columns(t, parsed)
            elif m_alter.group(5):
                op = "DROP COLUMN"
                v = self.drop_column(t, m_alter.group(5))
            else:
                op = "ALTER COLUMN TYPE"
                v = self.alter_column_type(
                    t, m_alter.group(6), m_alter.group(7).strip()
                )
            return self.spark.createDataFrame(
                [(t, op, v)], "table_name string, operation string, version long"
            )

        def _versioned(m: "re.Match[str]") -> str:
            name, version = m.group(1), int(m.group(2))
            view = f"__{name}_v{version}"
            self.read_snapshot(name, version).createOrReplaceTempView(view)
            return view

        segments = self._split_sql_segments(query)
        segments = self._rewrite_timestamp_as_of(segments)
        segments = self._rewrite_table_changes(segments)
        code = [
            re.sub(
                r"\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)",
                _versioned,
                text,
                flags=re.IGNORECASE,
            )
            if is_code
            else text
            for is_code, text in segments
        ]
        rewritten = "".join(code)
        code_only = " ".join(t for (is_code, _), t in zip(segments, code) if is_code)
        # backtick-quoted identifiers are LIVE table references (Spark
        # resolves `name` exactly like name), not string literals — they
        # must trigger view registration even though the rewrite pass
        # rightly leaves their text alone
        backtick_idents = " ".join(
            t.strip("`")
            for is_code, t in segments
            if not is_code and t.startswith("`")
        )
        scan_text = f"{code_only} {backtick_idents}"
        for name in self.tables():
            if not re.search(rf"\b{re.escape(name)}\b", scan_text):
                continue
            foreign_view = (
                name not in self._registered
                and self.spark.catalog.tableExists(name)
            )
            if foreign_view:
                continue  # user's own temp view shadows the warehouse table
            if self.versions(name):
                self.read_snapshot(name).createOrReplaceTempView(name)
            else:
                self.read(name).createOrReplaceTempView(name)
            self._registered.add(name)
        return self.spark.sql(rewritten)


class TxLogWarehouse(Warehouse):
    """Warehouse over the transaction-log table format (sources/txlog.py) —
    the closest portable equivalent of the reference's Iceberg backend
    (IngestionJob.scala:15-19): every stage write is an atomic commit with a
    snapshot id, history is file-shared (an append never rewrites old data,
    unlike the base Warehouse's copy-per-version snapshot dirs), and reads
    prune files by partition values + footer min/max before Spark plans the
    scan. Same seam as the other backends: write/read/exists plus the three
    snapshot methods swap; stages and ``.sql()`` (`VERSION AS OF`, plus
    `TIMESTAMP AS OF '<iso>'` — this backend records commit wall-clock)
    run unchanged."""

    def _log(self, name: str):
        from ..sources.txlog import TableLog

        return TableLog(self.spark, self.path(name))

    def version_at_timestamp(self, name: str, ts_ms: int) -> int:
        return self._log(name).version_at(ts_ms)

    # column DDL: metadata-only commits on this backend (column mapping /
    # dropped-column tombstones — no data file is rewritten)

    def rename_column(self, name: str, old: str, new: str) -> int:
        return self._log(name).rename_column(old, new)

    def add_column(self, name: str, col: str, dtype: str) -> int:
        return self._log(name).add_column(col, dtype)

    def add_columns(self, name: str, cols: list[tuple[str, str]]) -> int:
        # one metadata commit for the whole list — atomic by construction
        return self._log(name).add_columns(cols)

    def drop_column(self, name: str, col: str) -> int:
        return self._log(name).drop_column(col)

    def alter_column_type(self, name: str, col: str, dtype: str) -> int:
        # metadata-only widening on this backend (see TableLog)
        return self._log(name).alter_column_type(col, dtype)

    def restore_table(self, name: str, version: int) -> int:
        return self._log(name).restore(version)

    def table_changes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        net: bool = False,
    ) -> DataFrame:
        """Batch change-data-feed passthrough (Delta's table_changes):
        also reachable from SQL — ``SELECT … FROM table_changes('t',
        from [, to])`` through :meth:`sql`."""
        return self._log(name).table_changes(from_version, to_version, net=net)

    def detail(self, name: str) -> DataFrame:
        log = self._log(name)
        snap = log.snapshot()
        row = (
            "txlog",
            log.root,
            snap.version,
            len(snap.files),
            sum(int(m.get("bytes") or 0) for m in snap.files.values()),
            list(snap.partition_by or []),
            len(log.versions()),
            len(snap.dvs),
            sum(len(v) for v in snap.dvs.values()),
            list(snap.bucket_by.get("cols") or []),
            int(snap.bucket_by.get("n") or 0),
        )
        return self.spark.createDataFrame([row], self._DETAIL_SCHEMA)

    def optimize_table(
        self,
        name: str,
        n_files: int = 1,
        zorder_by: list[str] | None = None,
        where: list | None = None,
        max_file_bytes: int | None = None,
    ) -> int:
        return self._log(name).optimize(
            n_files=n_files,
            zorder_by=zorder_by,
            where=where,
            max_file_bytes=max_file_bytes,
        )

    def vacuum_table(self, name: str, retain_last: int = 1) -> int:
        return self._log(name).vacuum(retain_last=retain_last)

    def files(self, name: str) -> DataFrame:
        return self._log(name).files_df()

    def history(self, name: str) -> DataFrame:
        rows = [
            (
                h["version"],
                h.get("ts_ms"),
                h["operation"],
                h["snapshot_id"],
                h["n_adds"],
                h["n_removes"],
            )
            for h in self._log(name).history()
        ]
        return self.spark.createDataFrame(rows, self._HISTORY_SCHEMA)

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        self._log(name).write(df, mode="overwrite", partition_by=partition_by)

    def read(self, name: str) -> DataFrame:
        return self._log(name).read()

    def exists(self, name: str) -> bool:
        return self._log(name).exists()

    def append(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> int:
        return self._log(name).write(df, mode="append", partition_by=partition_by)

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: list[str],
        replace_where: dict[str, list],
    ) -> int:
        return self._log(name).write(
            df, partition_by=partition_by, replace_where=replace_where
        )

    def write_snapshot(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
        generated: dict[str, dict] | None = None,
        properties: dict[str, str] | None = None,
    ) -> int:
        return self._log(name).write(
            df, partition_by=partition_by, bucket_by=bucket_by,
            sort_by=sort_by, generated=generated, properties=properties,
        )

    def create_table(
        self,
        name: str,
        schema,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
        generated: dict[str, dict] | None = None,
        defaults: dict[str, str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> int:
        """``CREATE TABLE`` with an explicit column list (round 12) —
        an EMPTY version-1 commit carrying schema + declare-time
        metadata; see TableLog.create."""
        return self._log(name).create(
            schema,
            partition_by=partition_by,
            bucket_by=bucket_by,
            sort_by=sort_by,
            generated=generated,
            defaults=defaults,
            properties=properties,
        )

    def read_bucketed(self, name: str, version: int | None = None) -> DataFrame:
        """The table as a session-catalog BUCKETED relation: joins and
        aggregations on the bucket columns plan with zero Exchange (see
        TableLog.read_bucketed — CLUSTERED BY surfaces in DESCRIBE
        DETAIL)."""
        return self._log(name).read_bucketed(version)

    def delete(self, name: str, filters: list[tuple], via: str = "cow") -> dict:
        """Row-level DELETE on a warehouse table (copy-on-write, or
        ``via="dv"`` for merge-on-read deletion vectors; see
        TableLog.delete) — only this backend supports it, the snapshot
        and catalog backends raise AttributeError by construction."""
        return self._log(name).delete(filters, via=via)

    def update(
        self,
        name: str,
        filters: list[tuple],
        set_exprs: dict[str, str],
        via: str = "cow",
    ) -> dict:
        """Row-level UPDATE on a warehouse table (see TableLog.update)."""
        return self._log(name).update(filters, set_exprs, via=via)

    def merge(
        self,
        source: DataFrame,
        name: str,
        keys: list[str],
        delete_condition: str | None = None,
        via: str = "cow",
        update_set: dict[str, str] | None = None,
        not_matched_by_source_delete: bool = False,
        not_matched_by_source_condition: str | None = None,
        matched_clauses: list[dict] | None = None,
        insert: bool = True,
        insert_condition: str | None = None,
        not_matched_by_source_clauses: list[dict] | None = None,
        not_matched_clauses: list[dict] | None = None,
        schema_evolution: bool = False,
    ) -> dict:
        """MERGE INTO a warehouse table (see TableLog.merge)."""
        return self._log(name).merge(
            source,
            keys,
            delete_condition,
            via=via,
            update_set=update_set,
            not_matched_by_source_delete=not_matched_by_source_delete,
            not_matched_by_source_condition=not_matched_by_source_condition,
            matched_clauses=matched_clauses,
            insert=insert,
            insert_condition=insert_condition,
            not_matched_by_source_clauses=not_matched_by_source_clauses,
            not_matched_clauses=not_matched_clauses,
            schema_evolution=schema_evolution,
        )

    def shallow_clone(
        self, name: str, dest: str, version: int | None = None
    ) -> int:
        self._log(name).shallow_clone(self.path(dest), version=version)
        return 1

    def versions(self, name: str) -> list[int]:
        return self._log(name).versions()

    def read_snapshot(self, name: str, version: int | None = None) -> DataFrame:
        log = self._log(name)
        if not log.exists():
            raise FileNotFoundError(f"no snapshots for table {name}")
        return log.read(version)

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "_txlog"))
        )


class CatalogWarehouse(Warehouse):
    """Stage hand-off through the session catalog (saveAsTable /
    spark.table / tableExists) instead of parquet paths — the
    persistent-metastore deployment shape (the reference verifies its
    warehouse with ``SHOW TABLES IN …`` / ``DESCRIBE``, README.md:125-128).
    Same stage code runs over either backend; only write/read/exists swap,
    which is exactly the seam an Iceberg catalog would plug into."""

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        from ..sources.io import overwrite_table

        overwrite_table(df, name, partition_by)

    def read(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(name)


def write_counted(
    wh: Warehouse, df: DataFrame, name: str, partition_by: list[str] | None = None
) -> int:
    """``wh.write(df, name, partition_by)``, returning the rows written.
    The count is an Observation on the written frame, so it is taken
    during the write itself instead of by a second scan of the table."""
    obs = Observation()
    wh.write(df.observe(obs, F.count(F.lit(1)).alias("rows")), name, partition_by)
    return observed(obs)["rows"]


def stage_ingest(wh: Warehouse, cat: Catalog, partition_daily: bool = False) -> int:
    """IngestionJob parity: scan → clean → enrich → partitioned write."""
    cleaned = cleaning.clean_lineitem(cat.lineitem).withColumn(
        "ship_year", F.year("ship_date")
    )
    return write_counted(
        wh,
        cleaned,
        "trips_raw",
        ["ship_date"] if partition_daily else ["ship_year"],
    )


def stage_dimensions(wh: Warehouse, cat: Catalog) -> tuple[int, int]:
    """DimensionJob parity: entity dim (union+distinct+bucket) and date
    dim (sequence/explode spine), both full-overwrite like the reference
    (DimensionJob.scala:58,90)."""
    raw = wh.read("trips_raw")
    entity = dimensions.build_entity_dim(raw, "l_partkey", "l_suppkey")
    date_dim = dimensions.build_date_dim(raw, "ship_date")
    return (
        write_counted(wh, entity, "entity_dim"),
        write_counted(wh, date_dim, "date_dim"),
    )


def stage_fact(wh: Warehouse, cat: Catalog, partition_daily: bool = False) -> int:
    """FactJob parity: guard on upstream tables, star join, partitioned
    write keyed for downstream pruning."""
    for dep in ("trips_raw", "date_dim"):
        if not wh.exists(dep):
            raise RuntimeError(f"pipeline ordering violation: missing table {dep}")
    date_dim = wh.read("date_dim")
    f = fact.build_fact(
        cat.lineitem, cat.orders, cat.customer, cat.supplier, cat.nation, date_dim
    )
    return write_counted(
        wh,
        f,
        "star_fact",
        ["ship_date"] if partition_daily else ["year"],
    )


def stage_aggregates(wh: Warehouse) -> dict[str, int]:
    """AggregationJob parity: one fact scan fanned into three summaries.
    The fact is cached across the three aggregations — the reference
    re-scans it per summary and even re-aggregates for its log counts
    (SURVEY.md §4.3.1); counts here are observed during the writes."""
    if not wh.exists("star_fact"):
        raise RuntimeError("pipeline ordering violation: missing table star_fact")
    f = wh.read("star_fact").cache()
    try:
        return {
            "pair_daily": write_counted(
                wh, aggregates.agg_pair_daily(f), "pair_daily", ["supp_nation"]
            ),
            "time_analysis": write_counted(
                wh, aggregates.agg_time(f), "time_analysis", ["year"]
            ),
            "top_pairs": write_counted(wh, aggregates.top_pairs(f, 50), "top_pairs"),
        }
    finally:
        f.unpersist()


def stage_quality(wh: Warehouse) -> dict:
    """DataQualityJob parity: null/range violation counts over the fact,
    one aggregation pass, pass/fail verdict."""
    row = quality.quality_counts(wh.read("star_fact")).head()
    return row.asDict()


def stage_curate(wh: Warehouse, cat: Catalog) -> int:
    """Training-data curation stage (extension): quality filter → exact
    dedup → near-dup removal → token budget over the documents corpus,
    written as its own warehouse table for downstream training jobs."""
    from ..operators import curation

    return write_counted(wh, curation.curate_documents(cat.documents), "curated_docs")


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    partition_daily: bool = False,
    warehouse_cls: type[Warehouse] = Warehouse,
) -> dict:
    """All five stages in-process; returns per-stage row counts."""
    cat = Catalog(spark, sf_dir)
    wh = warehouse_cls(spark, warehouse_dir)
    out: dict = {}
    out["ingest_rows"] = stage_ingest(wh, cat, partition_daily)
    out["entity_dim_rows"], out["date_dim_rows"] = stage_dimensions(wh, cat)
    out["fact_rows"] = stage_fact(wh, cat, partition_daily)
    out["aggregates"] = stage_aggregates(wh)
    out["quality"] = stage_quality(wh)
    out["curated_rows"] = stage_curate(wh, cat)
    return out


STAGES = {
    "ingest": lambda wh, cat, daily: stage_ingest(wh, cat, daily),
    "dimensions": lambda wh, cat, daily: stage_dimensions(wh, cat),
    "fact": lambda wh, cat, daily: stage_fact(wh, cat, daily),
    "aggregates": lambda wh, cat, daily: stage_aggregates(wh),
    "quality": lambda wh, cat, daily: stage_quality(wh),
    "curate": lambda wh, cat, daily: stage_curate(wh, cat),
}


def main() -> None:
    p = argparse.ArgumentParser(description="run pipeline stages")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--warehouse", required=True)
    p.add_argument(
        "--stage", choices=[*STAGES, "all"], default="all",
        help="single stage (mimics the reference's per-job spark-submit) or all",
    )
    p.add_argument("--partition-daily", action="store_true")
    args = p.parse_args()

    from .. import get_spark

    spark = get_spark("pipeline")
    if args.stage == "all":
        result = run_pipeline(spark, args.sf_dir, args.warehouse, args.partition_daily)
    else:
        wh = Warehouse(spark, args.warehouse)
        cat = Catalog(spark, args.sf_dir)
        result = STAGES[args.stage](wh, cat, args.partition_daily)
    print(result)
    spark.stop()


if __name__ == "__main__":
    main()
