"""SQLite → Spark SQL dialect shim (SURVEY §2C rightmost column).

The reference executes arbitrary user SQL through SQLite
(query_iterator.py:131), so the capability contract includes SQLite's
dialect quirks.  This module is a *string-level* rewrite pass applied
before ``spark.sql`` — deliberately not a Catalyst rule (SURVEY §4.2: a
plain-Python preprocessing layer is all that parity requires).

Handled deltas:

* ``LIKE`` — ASCII-case-insensitive in SQLite, case-sensitive in Spark →
  rewritten to ``ILIKE`` (Spark ≥3.3 native);
* ``GLOB 'pattern'`` — translated to ``RLIKE`` with the glob converted
  to an anchored regex (``*``→``.*``, ``?``→``.``, ``[...]`` kept);
* double-quoted tokens — SQLite treats ``"x"`` as an identifier (string
  literal only as a fallback); Spark uses backticks → `` `x` ``;
* ``group_concat(x[, sep])`` → ``concat_ws(sep, collect_list(x))`` (both
  engines leave element order non-deterministic);
* ``total(x)`` → ``coalesce(sum(cast(x as double)), 0.0d)``;
* ``iif(`` → ``if(``; ``random()`` → a 64-bit random int expression;
* ``julianday(x)`` → unix-epoch arithmetic;
* ``strftime('fmt', x)`` → ``date_format(x, 'translated_fmt')``.

Mechanics: single-quoted string literals (with ``''`` escapes) are
masked with ``\\x00<i>\\x00`` placeholders first, all rewrites run on the
masked text (so no rewrite can mangle text content and function
rewrites may span literals), then literals are restored.
"""

from __future__ import annotations

import re

# SQLite strftime code → JVM SimpleDateFormat pattern fragment
_STRFTIME_MAP = {
    "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm",
    "%S": "ss", "%j": "DDD", "%w": "u", "%W": "ww", "%p": "a",
    "%%": "%",
}

_PLACEHOLDER_RE = re.compile("\x00(\\d+)\x00")
_LIKE_RE = re.compile(r"\bLIKE\b", re.IGNORECASE)
_GLOB_LIT_RE = re.compile(r"\b(NOT\s+)?GLOB\s*(\x00\d+\x00)", re.IGNORECASE)
_GLOB_RE = re.compile(r"\bGLOB\b", re.IGNORECASE)
_GROUP_CONCAT_RE = re.compile(r"\bgroup_concat\s*\(", re.IGNORECASE)
_PRINTF_RE = re.compile(r"\bprintf\s*\(", re.IGNORECASE)
_TOTAL_RE = re.compile(r"\btotal\s*\(", re.IGNORECASE)
_IIF_RE = re.compile(r"\biif\s*\(", re.IGNORECASE)
_RANDOM_RE = re.compile(r"\brandom\s*\(\s*\)", re.IGNORECASE)
_JULIANDAY_RE = re.compile(r"\bjulianday\s*\(", re.IGNORECASE)
_STRFTIME_RE = re.compile(r"\bstrftime\s*\(\s*(\x00\d+\x00)\s*,", re.IGNORECASE)
_DQUOTE_RE = re.compile(r'"([^"]*)"')


def _mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace each single-quoted literal with ``\\x00i\\x00``; return the
    masked SQL and the literal texts (quotes included)."""
    out, literals = [], []
    i, n = 0, len(sql)
    start = 0
    while i < n:
        if sql[i] == "'":
            out.append(sql[start:i])
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            literals.append(sql[i:j + 1])
            out.append(f"\x00{len(literals) - 1}\x00")
            i = j + 1
            start = i
        else:
            i += 1
    out.append(sql[start:])
    return "".join(out), literals


def _unmask(sql: str, literals: list[str]) -> str:
    return _PLACEHOLDER_RE.sub(lambda m: literals[int(m.group(1))], sql)


def _unmask_for_spark(sql: str, literals: list[str]) -> str:
    """Restore literals with backslashes doubled: SQLite string literals
    treat ``\\`` as an ordinary character (only ``''`` is special), while
    Spark's default parser processes C-style escapes — ``'\\n'`` is two
    chars in SQLite but a newline in Spark.  Doubling makes Spark parse
    back the exact character sequence SQLite saw, and is equally right
    for the literals this shim *generates* (GLOB→regex patterns whose
    ``re.escape`` backslashes must survive into the Java regex)."""
    return _PLACEHOLDER_RE.sub(
        lambda m: literals[int(m.group(1))].replace("\\", "\\\\"), sql)


def glob_to_regex(pattern: str) -> str:
    """SQLite GLOB pattern → anchored Java regex (case-sensitive, as GLOB is)."""
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = pattern.find("]", i + 1)
            if j == -1:
                out.append(re.escape(c))
            else:
                out.append(pattern[i:j + 1])
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


def _balanced_rewrite(code: str, open_re: re.Pattern, build) -> str:
    """Rewrite every ``fn( <args> )`` matched by ``open_re`` using
    ``build(args_text)``, honoring nested parentheses."""
    while True:
        m = open_re.search(code)
        if not m:
            return code
        start = m.end()
        depth, j = 1, start
        while j < len(code) and depth:
            if code[j] == "(":
                depth += 1
            elif code[j] == ")":
                depth -= 1
            j += 1
        inner = code[start:j - 1]
        code = code[:m.start()] + build(m, inner) + code[j:]


def _top_level_split(args: str) -> list[str]:
    """Split an argument list on top-level commas."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(args):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(args[start:i])
            start = i + 1
    parts.append(args[start:])
    return parts


def _translate_strftime_format(fmt: str) -> str:
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            out.append(_STRFTIME_MAP.get(fmt[i:i + 2], fmt[i:i + 2]))
            i += 2
        else:
            ch = fmt[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def sqlite_to_spark(sql: str) -> str:
    """Apply the full SQLite→Spark rewrite (see module docstring)."""
    code, literals = _mask_literals(sql)

    # identifiers: "x" → `x`
    code = _DQUOTE_RE.sub(lambda m: f"`{m.group(1)}`", code)

    # GLOB with a literal pattern: convert the stored literal to a regex
    def glob_repl(m: re.Match) -> str:
        ph = m.group(2)
        idx = int(_PLACEHOLDER_RE.match(ph).group(1))
        inner = literals[idx][1:-1].replace("''", "'")
        literals[idx] = "'" + glob_to_regex(inner).replace("'", "''") + "'"
        return ("NOT " if m.group(1) else "") + "RLIKE " + ph
    code = _GLOB_LIT_RE.sub(glob_repl, code)
    code = _GLOB_RE.sub("RLIKE", code)  # non-literal operand: keyword swap only

    code = _LIKE_RE.sub("ILIKE", code)
    code = _IIF_RE.sub("if(", code)
    code = _RANDOM_RE.sub(
        "cast((rand() - 0.5d) * 9.2233720368547758e18 as bigint)", code)

    # strftime('fmt', expr [, mods…]) → date_format(expr, 'jvm_fmt')
    def strftime_build(m: re.Match, inner: str) -> str:
        ph = m.group(1)
        idx = int(_PLACEHOLDER_RE.match(ph).group(1))
        fmt = literals[idx][1:-1].replace("''", "'")
        jfmt = _translate_strftime_format(fmt).replace("'", "''")
        return f"date_format({inner.strip()}, '{jfmt}')"
    code = _balanced_rewrite(code, _STRFTIME_RE, strftime_build)

    code = _balanced_rewrite(
        code, _TOTAL_RE,
        lambda m, inner: f"coalesce(sum(cast({inner.strip()} as double)), 0.0d)")
    code = _balanced_rewrite(
        code, _JULIANDAY_RE,
        lambda m, inner: (
            f"(unix_timestamp(cast({inner.strip()} as timestamp))"
            " / 86400.0d + 2440587.5d)"))

    # printf('fmt', args…) → format_string('fmt', args…): Spark's
    # format_string is java.util.Formatter — %s/%d/%f/%x/%% behave as in
    # SQLite's printf for the common cases (SQLite extensions like %q
    # are not translated)
    code = _PRINTF_RE.sub("format_string(", code)

    def group_concat_build(m: re.Match, inner: str) -> str:
        parts = _top_level_split(inner)
        expr = parts[0].strip()
        sep = parts[1].strip() if len(parts) > 1 else "','"
        return f"concat_ws({sep}, collect_list({expr}))"
    code = _balanced_rewrite(code, _GROUP_CONCAT_RE, group_concat_build)

    return _unmask_for_spark(code, literals)


_SELECT_RE = re.compile(r"\bSELECT\b(\s+(ALL|DISTINCT)\b)?", re.IGNORECASE)
_MINMAX_RE = re.compile(r"\b(min|max)\s*\(", re.IGNORECASE)
# what ends a SELECT's select list (FROM) or its whole block (a compound
# operator, or the parenthesis closing a CTE or subquery), and GROUP BY
_BLOCK_TOKEN_RE = re.compile(r"[()]|\b(FROM|UNION|INTERSECT|EXCEPT)\b|\bGROUP\s+BY\b",
                             re.IGNORECASE)


def _select_blocks(code: str):
    """``(list_start, list_end, block_end, grouped)`` for each SELECT in
    masked ``code``: where its select list starts and ends (its FROM),
    where its block ends, and whether the block has a GROUP BY."""
    for sel in _SELECT_RE.finditer(code):
        start = sel.end()
        depth, from_at, end, grouped = 0, None, len(code), False
        for m in _BLOCK_TOKEN_RE.finditer(code, start):
            tok = m.group(0).upper()
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
                if depth < 0:
                    end = m.start()
                    break
            elif depth == 0:
                if tok == "FROM":
                    from_at = m.start() if from_at is None else from_at
                elif tok.startswith("GROUP"):
                    grouped = True
                else:
                    end = m.start()
                    break
        yield start, end if from_at is None else from_at, end, grouped


def _single_minmax(block: str) -> tuple[str, str] | None:
    """``(fn, arg)`` when a SELECT block (its select list, ``HAVING`` and
    ``ORDER BY``) holds exactly one distinct one-argument ``min``/``max``
    aggregate outside any subquery, else None.  As in SQLite, the same
    aggregate written twice (``max(qty)`` selected and in ``HAVING``)
    counts once.  Two-argument ``max(a, b)`` is SQLite's scalar form and
    ``max(x) OVER (...)`` a window function; neither counts."""
    calls = {}
    for m in _MINMAX_RE.finditer(block):
        opens = []
        for i, c in enumerate(block[:m.start()]):
            if c == "(":
                opens.append(i)
            elif c == ")" and opens:
                opens.pop()
        if any(re.match(r"\(\s*SELECT\b", block[i:], re.IGNORECASE)
               for i in opens):
            continue
        depth, j = 1, m.end()
        while j < len(block) and depth:
            depth += {"(": 1, ")": -1}.get(block[j], 0)
            j += 1
        args = _top_level_split(block[m.end():j - 1])
        if len(args) == 1 and not re.match(r"\s*OVER\b", block[j:],
                                            re.IGNORECASE):
            fn = m.group(1).lower()
            arg = re.sub(r"^\s*(DISTINCT|ALL)\b", "", args[0],
                         flags=re.IGNORECASE).strip()
            calls.setdefault((fn, re.sub(r"\s+", "", arg).lower()), (fn, arg))
    return next(iter(calls.values())) if len(calls) == 1 else None


def rewrite_bare_column(sql: str, column: str) -> str:
    """Wrap one bare select-list item in an aggregate ``AS name`` — the
    Spark expression of SQLite's bare-columns-in-aggregate rule
    (SURVEY §2C aggregation delta).  When the SELECT block holds exactly
    one ``min(x)``/``max(x)`` aggregate (in its select list, ``HAVING``
    or ``ORDER BY``), SQLite takes bare columns from the row that holds
    the extreme, so the item becomes ``min_by(item, x)``/
    ``max_by(item, x)``; otherwise any in-group row's value will do and
    it becomes ``any_value(item)``.

    Only exact top-level select-list items matching ``column`` (or
    ``alias.column``) are rewritten, so occurrences inside function
    calls and other clauses are never touched.  The SELECT rewritten is
    the first whose block has a ``GROUP BY`` and such an item (in a
    ``WITH`` query that is the aggregating one, not the CTE's), else the
    first with such an item.  Driven by :class:`QueryEngine`'s retry on
    Catalyst's MISSING_AGGREGATION error rather than by parsing GROUP BY
    ourselves — the analyzer is the single source of truth for which
    items are bare; a block whose item was not bare is unchanged in
    meaning, and the next retry moves on to the next block.
    """
    code, literals = _mask_literals(sql)
    item_re = re.compile(rf"^(\w+\.)?{re.escape(column)}$", re.IGNORECASE)
    blocks = [b for b in _select_blocks(code)
              if any(item_re.match(it.strip()) for it in _top_level_split(code[b[0]:b[1]]))]
    if not blocks:
        return sql
    start, list_end, end, _ = next((b for b in blocks if b[3]), blocks[0])
    extreme = _single_minmax(code[start:end])
    items = []
    for it in _top_level_split(code[start:list_end]):
        if item_re.match(it.strip()):
            agg = (f"{extreme[0]}_by({it.strip()}, {extreme[1]})" if extreme
                   else f"any_value({it.strip()})")
            it = it.replace(it.strip(), f"{agg} AS {column}")
        items.append(it)
    code = code[:start] + ",".join(items) + code[list_end:]
    return _unmask(code, literals)
