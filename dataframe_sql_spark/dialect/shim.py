"""Dialect shim: reference SQL dialect → Spark SQL.

The reference (zbrookle/dataframe_sql @ /root/reference) delegates its
dialect to sql_to_ibis; the behaviors re-created here are pinned by its
test corpus (tests/pandas_sql_functionality_test.py, cited per rule):

1. pandas type names in CAST → Spark types (tests :65-94, :1062-1111)
2. now()/today()/timestamp(d, t) (tests :1000-1015)
3. output-column naming: unnamed expressions become ``_colN`` /
   ``_literalN`` by select-list position; ``now()``/``today()`` keep
   their spelling; bare columns keep query-typed case
   (tests :206-213, :262-279, :487-494, :1012-1014)
4. comma-FROM = cross join, with ``table.col``-prefixed output columns
   on name collisions when selecting ``*`` (tests :434-453,
   tests/utils.py:48-89)
5. everything else passes through — Spark SQL natively accepts the
   reference grammar (sql_select_query.py:69-81).

Everything is token-level; after this shim, Catalyst owns planning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException

from .tokenizer import Token, detokenize, tokenize

__all__ = ["translate", "CAST_TYPE_MAP"]

# pandas/ibis type vocabulary → Spark SQL type names.
# float16 and category have no Spark equivalent; promoted (documented
# divergence, SURVEY.md §7 hard part 2).
CAST_TYPE_MAP = {
    "object": "STRING",
    "varchar": "STRING",
    "string": "STRING",
    "category": "STRING",
    "int16": "SMALLINT",
    "smallint": "SMALLINT",
    "int32": "INT",
    "int": "INT",
    "int64": "BIGINT",
    "bigint": "BIGINT",
    "float16": "FLOAT",
    "float32": "FLOAT",
    "float": "FLOAT",
    "float64": "DOUBLE",
    "double": "DOUBLE",
    "bool": "BOOLEAN",
    "boolean": "BOOLEAN",
    "datetime64": "TIMESTAMP",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
}

# keywords that terminate a FROM clause at the same nesting depth
_FROM_STOP = {
    "where",
    "group",
    "having",
    "order",
    "limit",
    "offset",
    "union",
    "intersect",
    "except",
    "window",
}

# idents that are never column references when scanning an expression
_EXPR_KEYWORDS = {
    "case",
    "when",
    "then",
    "else",
    "end",
    "and",
    "or",
    "not",
    "in",
    "between",
    "is",
    "null",
    "true",
    "false",
    "distinct",
    "all",
    "interval",
    "as",
    "like",
    "rlike",
    "escape",
    "over",
    "partition",
    "by",
    "rows",
    "range",
    "unbounded",
    "preceding",
    "following",
    "current",
    "row",
    "asc",
    "desc",
}


def translate(sql: str, schema_lookup: Callable[[str], list[str]] | None = None) -> str:
    """Rewrite one reference-dialect statement into Spark SQL.

    ``schema_lookup(table_name) -> [column, ...]`` enables ``SELECT *``
    expansion with collision prefixes for comma-FROM queries; omit it
    and comma-FROM still becomes CROSS JOIN (columns just stay
    duplicated, as Spark allows).
    """
    tokens = tokenize(sql)
    tokens = _structural_pass(tokens, schema_lookup)
    tokens = _limit_pass(tokens)
    tokens = _lexical_pass(tokens)
    return detokenize(tokens)


# ---------------------------------------------------------------------------
# structural pass: select-list aliasing + comma-FROM rewrite
# ---------------------------------------------------------------------------


def _depths(tokens: list[Token]) -> list[int]:
    d, out = 0, []
    for t in tokens:
        if t.text == "(":
            out.append(d)
            d += 1
        elif t.text == ")":
            d -= 1
            out.append(d)
        else:
            out.append(d)
    return out


def _structural_pass(
    tokens: list[Token], schema_lookup: Callable[[str], list[str]] | None
) -> list[Token]:
    depths = _depths(tokens)
    selects = [i for i, t in enumerate(tokens) if t.is_kw("select")]
    # back-to-front so earlier indices stay valid after in-place splices
    for s in reversed(selects):
        tokens = _rewrite_select_unit(tokens, s, depths[s], schema_lookup)
        depths = _depths(tokens)
    return tokens


def _find_clause_end(tokens: list[Token], depths: list[int], start: int, d: int) -> int:
    """Index one past the last token of the clause starting at ``start``
    (same-depth scan)."""
    i = start
    while i < len(tokens):
        if depths[i] < d:
            return i
        if depths[i] == d and tokens[i].kind == "ident" and tokens[i].lower() in _FROM_STOP:
            return i
        i += 1
    return i


def _rewrite_select_unit(
    tokens: list[Token],
    s: int,
    d: int,
    schema_lookup: Callable[[str], list[str]] | None,
) -> list[Token]:
    depths = _depths(tokens)
    # locate select list bounds (optimizer hints sit between SELECT and
    # the list; they are not select-list items)
    list_start = s + 1
    while list_start < len(tokens) and tokens[list_start].kind == "hint":
        list_start += 1
    if list_start < len(tokens) and tokens[list_start].is_kw("distinct", "all"):
        list_start += 1
    from_idx = None
    i = list_start
    while i < len(tokens):
        if depths[i] < d:
            break
        if depths[i] == d and tokens[i].is_kw("from"):
            from_idx = i
            break
        i += 1
    list_end = from_idx if from_idx is not None else _find_clause_end(tokens, depths, list_start, d)

    # --- FROM clause: comma → CROSS JOIN, collect table refs ---
    table_refs: list[tuple[str, str]] = []  # (table_name, prefix/alias)
    comma_from = False
    simple_refs = True
    if from_idx is not None:
        from_end = _find_clause_end(tokens, depths, from_idx + 1, d)
        ref: list[Token] = []
        refs_tokens: list[list[Token]] = []
        comma_positions: list[int] = []
        for j in range(from_idx + 1, from_end):
            if depths[j] == d and tokens[j].text == ",":
                comma_positions.append(j)
                refs_tokens.append(ref)
                ref = []
            else:
                ref.append(tokens[j])
        refs_tokens.append(ref)
        comma_from = bool(comma_positions)
        for rt in refs_tokens:
            rt = [t for t in rt]
            # strip optional AS between name and alias
            names = [t for t in rt if not t.is_kw("as")]
            if len(names) == 1 and names[0].kind == "ident":
                table_refs.append((names[0].text, names[0].text))
            elif len(names) == 2 and names[0].kind == "ident" and names[1].kind == "ident":
                table_refs.append((names[0].text, names[1].text))
            else:
                simple_refs = False
        if comma_from:
            for j in reversed(comma_positions):
                tokens[j : j + 1] = [Token("ident", "CROSS"), Token("ident", "JOIN")]
            depths = _depths(tokens)

    # --- select list ---
    items = _split_top_level(tokens, depths, list_start, list_end, d)
    if (
        comma_from
        and simple_refs
        and schema_lookup is not None
        and len(items) == 1
        and len(items[0]) == 1
        and tokens[items[0][0]].text == "*"
    ):
        star_expansion = _expand_star(table_refs, schema_lookup)
        if star_expansion is not None:
            tokens[list_start:list_end] = star_expansion
            return tokens

    # alias unnamed items; splice back-to-front
    for pos in range(len(items) - 1, -1, -1):
        item_idxs = items[pos]
        if not item_idxs:
            continue
        item = [tokens[k] for k in item_idxs]
        alias = _alias_for_item(item, pos)
        if alias is not None:
            insert_at = item_idxs[-1] + 1
            tokens[insert_at:insert_at] = [Token("ident", "AS"), Token("qident", f"`{alias}`")]
    return tokens


def _split_top_level(
    tokens: list[Token], depths: list[int], start: int, end: int, d: int
) -> list[list[int]]:
    items: list[list[int]] = [[]]
    for j in range(start, end):
        if depths[j] == d and tokens[j].text == ",":
            items.append([])
        else:
            items[-1].append(j)
    return items


def _expand_star(
    table_refs: list[tuple[str, str]], schema_lookup: Callable[[str], list[str]]
) -> list[Token] | None:
    try:
        schemas = [(prefix, schema_lookup(name)) for name, prefix in table_refs]
    except AnalysisException as exc:
        # An unknown name (or a CTE the catalog cannot see): leave the
        # star to spark.sql, which resolves the CTE or raises its own
        # TABLE_OR_VIEW_NOT_FOUND. Any other error is a real failure.
        if exc.getCondition() != "TABLE_OR_VIEW_NOT_FOUND":
            raise
        return None
    counts: dict[str, int] = {}
    for _, cols in schemas:
        for c in cols:
            counts[c.lower()] = counts.get(c.lower(), 0) + 1
    out: list[Token] = []
    for prefix, cols in schemas:
        for c in cols:
            if out:
                out.append(Token("punct", ","))
            out.extend(
                [Token("qident", f"`{prefix}`"), Token("punct", "."), Token("qident", f"`{c}`")]
            )
            if counts[c.lower()] > 1:  # reference prefixes collisions: utils.py:48-89
                out.extend([Token("ident", "AS"), Token("qident", f"`{prefix}.{c}`")])
    return out


def _alias_for_item(item: list[Token], position: int) -> str | None:
    """Alias to inject for a select-list item, or None to leave as-is."""
    texts = [t.text for t in item]
    if texts == ["*"] or (len(item) >= 2 and item[-1].text == "*" and item[-2].text == "."):
        return None  # star / qualified star
    # explicit alias present?
    depth = 0
    for idx, t in enumerate(item):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.is_kw("as"):
            return None
        elif (
            depth == 0
            and idx == len(item) - 1
            and t.kind in ("ident", "qident")
            and idx > 0
            and (
                item[idx - 1].kind in ("ident", "qident", "number", "string")
                or item[idx - 1].text == ")"
            )
            and t.lower() not in _EXPR_KEYWORDS
        ):
            return None  # implicit alias: `expr name`
    # bare column ref: ident (. ident)* chain (preserve typed case)
    if _is_column_chain(item):
        last = item[-1].text
        return last[1:-1] if item[-1].kind == "qident" else last
    # now()/today() keep their literal spelling as the output name
    if (
        len(item) == 3
        and item[0].is_kw("now", "today")
        and item[1].text == "("
        and item[2].text == ")"
    ):
        return f"{item[0].lower()}()"
    # otherwise: _colN if any column reference, else _literalN
    return f"_col{position}" if _has_column_ref(item) else f"_literal{position}"


def _is_column_chain(item: list[Token]) -> bool:
    """True for ``col`` / ``tbl.col`` / ``db.tbl.col`` shaped items."""
    for idx, t in enumerate(item):
        if idx % 2 == 0:
            if t.kind not in ("ident", "qident") or t.lower() in _EXPR_KEYWORDS:
                return False
        elif t.text != ".":
            return False
    return len(item) % 2 == 1


def _has_column_ref(item: list[Token]) -> bool:
    for idx, t in enumerate(item):
        if t.text == "*" and idx > 0 and item[idx - 1].text == "(":
            return True  # count(*) and friends reference rows, not literals
    prev: Token | None = None
    for idx, t in enumerate(item):
        if t.kind in ("ident", "qident"):
            nxt = item[idx + 1] if idx + 1 < len(item) else None
            if t.kind == "ident" and t.lower() in _EXPR_KEYWORDS:
                prev = t
                continue
            if nxt is not None and nxt.text == "(":  # function name
                prev = t
                continue
            if prev is not None and prev.is_kw("as"):  # cast target type
                prev = t
                continue
            return True
        prev = t
    return False


# ---------------------------------------------------------------------------
# lexical pass: function spellings + cast target types
# ---------------------------------------------------------------------------


def _limit_pass(tokens: list[Token]) -> list[Token]:
    """``LIMIT offset, count`` (MySQL-style, documented in the
    reference grammar at sql_select_query.py:78) → ``LIMIT count
    OFFSET offset`` (Spark syntax)."""
    out: list[Token] = []
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if (
            t.is_kw("limit")
            and i + 3 < len(tokens)
            and tokens[i + 1].kind == "number"
            and tokens[i + 2].text == ","
            and tokens[i + 3].kind == "number"
        ):
            out.extend(
                [
                    Token("ident", "LIMIT"),
                    tokens[i + 3],
                    Token("ident", "OFFSET"),
                    tokens[i + 1],
                ]
            )
            i += 4
            continue
        out.append(t)
        i += 1
    return out


def _lexical_pass(tokens: list[Token]) -> list[Token]:
    out: list[Token] = []
    cast_depths: list[int] = []  # paren depths whose '(' belongs to a CAST
    depth = 0
    i = 0
    while i < len(tokens):
        t = tokens[i]
        nxt = tokens[i + 1] if i + 1 < len(tokens) else None
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            if cast_depths and cast_depths[-1] == depth:
                cast_depths.pop()
            depth -= 1
        if t.kind == "ident" and nxt is not None and nxt.text == "(":
            low = t.lower()
            if low == "cast":
                cast_depths.append(depth + 1)
                out.append(t)
                i += 1
                continue
            if low == "now":
                out.append(Token("ident", "current_timestamp"))
                i += 1
                continue
            if low == "today":
                out.append(Token("ident", "current_date"))
                i += 1
                continue
            if low == "timestamp":
                # timestamp('YYYY-MM-DD', 'HH:MM:SS') → to_timestamp(concat(d,' ',t))
                rewritten, consumed = _rewrite_timestamp_call(tokens, i)
                if rewritten is not None:
                    out.extend(rewritten)
                    i += consumed
                    continue
        if (
            t.kind == "ident"
            and cast_depths
            and cast_depths[-1] == depth
            and out
            and out[-1].is_kw("as")
            and t.lower() in CAST_TYPE_MAP
        ):
            out.append(Token("ident", CAST_TYPE_MAP[t.lower()]))
            i += 1
            continue
        out.append(t)
        i += 1
    return out


def _rewrite_timestamp_call(tokens: list[Token], i: int) -> tuple[list[Token] | None, int]:
    """``timestamp ( a , b )`` starting at i → to_timestamp(concat(a,' ',b)).
    Returns (replacement, tokens consumed) or (None, 0) if the shape
    doesn't match (e.g. a plain ``timestamp(x)`` passes through)."""
    if (
        i + 5 < len(tokens)
        and tokens[i + 1].text == "("
        and tokens[i + 3].text == ","
        and tokens[i + 5].text == ")"
        and tokens[i + 2].kind == "string"
        and tokens[i + 4].kind == "string"
    ):
        repl = [
            Token("ident", "to_timestamp"),
            Token("punct", "("),
            Token("ident", "concat"),
            Token("punct", "("),
            tokens[i + 2],
            Token("punct", ","),
            Token("string", "' '"),
            Token("punct", ","),
            tokens[i + 4],
            Token("punct", ")"),
            Token("punct", ")"),
        ]
        return repl, 6
    return None, 0
