"""Spark's own SQL parser, read as plain Python records.

``MergeSqlRunner`` (``merge_sql.py``) finds table references and
compiles row-level DML from Catalyst's parse tree, not from regexes
over the text. This module is the only caller of the parser
(``sessionState().sqlParser().parsePlan``, an internal Spark API) and
the only code that walks the py4j plan nodes it returns. It hands back
frozen dataclasses. A table reference's span is an INCLUSIVE pair of
character offsets into the statement (``sql[s:e + 1]`` is its name), so
the caller can splice at it; conditions, values and queries come as
their exact source text. String literals are never re-lexed by the
caller.

Parse-tree facts the walk relies on (Spark 4.1; each one is pinned in
``tests/test_sql_ast.py``, so an upgrade that moves one fails there):

- a node's ``origin()`` holds the start/stop index of the parse context
  that built it; a table reference's covers its multipart name;
- ``RelationTimeTravel`` is a leaf: its table is ``relation()``, and its
  own origin is the ``[FOR] VERSION|TIMESTAMP AS OF <lit>`` clause;
- an explicit alias is a ``SubqueryAlias`` that starts where its table
  reference starts;
- CTE bodies hang off ``UnresolvedWith.cteRelations()``, subqueries
  inside expressions off ``subqueries()`` and an EXPLAIN's query off
  ``ExplainCommand.logicalPlan()``; none is a child;
- MERGE's target/source ``SubqueryAlias`` nodes and UPDATE's assignment
  keys carry the origin of the whole statement (SET list), so spans come
  from the inner nodes and SET columns from ``nameParts``;
- a boolean literal is one of two SHARED ``true``/``false`` nodes (also
  the condition of ``DELETE FROM t`` without WHERE) whose origin is the
  statement that first built it, so its text comes from the node;
- ``TABLE <name>`` is a relation standing where a whole query stands:
  its parent is never a node that reads a FROM list.
"""

from __future__ import annotations

from dataclasses import dataclass

_ACTIONS = {"DeleteAction": "delete", "UpdateAction": "update",
            "UpdateStarAction": "update_star", "InsertAction": "insert",
            "InsertStarAction": "insert_star"}
#: plan nodes (first word of ``nodeName``) whose children are whole
#: queries: a relation directly under one is the ``TABLE <name>`` form
_QUERY_HOLDERS = frozenset({
    "SubqueryAlias", "UnresolvedWith", "Union", "Intersect", "Except",
    "Distinct", "Sort", "GlobalLimit", "LocalLimit", "Offset",
    "RepartitionByExpression", "InsertIntoStatement"})


class SqlSyntaxError(ValueError):
    """The statement does not parse as Spark SQL. ``token`` is the text
    Spark stopped at (``UPDATE``, ``end of input`` ...) and ``hint`` its
    remark, if any (``: missing ')'``)."""

    def __init__(self, message: str, token: str, hint: str) -> None:
        super().__init__(message)
        self.token, self.hint = token, hint


@dataclass(frozen=True)
class TimeTravel:
    kind: str               # 'VERSION' or 'TIMESTAMP'
    clause: tuple           # span of `[FOR] ... AS OF <lit>`
    version: str | None     # VERSION: the literal's value, unquoted
    quoted: bool            # VERSION: a string literal (tag/branch name)
    literal: str | None     # TIMESTAMP: text of the AS OF expression


@dataclass(frozen=True)
class Relation:
    parts: tuple            # multipart table name, unquoted
    span: tuple             # span of the name
    aliased: bool           # an explicit alias follows the reference
    table_form: bool        # stands where a whole query does (`TABLE
    #                         <name>`, `(<name>) a`): takes no alias
    travel: TimeTravel | None


@dataclass(frozen=True)
class QueryRefs:
    relations: tuple        # every Relation, CTE bodies and subqueries too
    ctes: frozenset         # lower-cased CTE names bound anywhere


@dataclass(frozen=True)
class Equality:             # one AND-term of a MERGE ON condition
    text: str
    left: tuple | None      # nameParts of a column operand, else None
    right: tuple | None


@dataclass(frozen=True)
class When:
    matched: str            # 'matched', 'not_matched' or
    #                         'not_matched_by_source'
    action: str             # a value of _ACTIONS (or the node class name)
    cond: str | None        # text of the AND condition
    qualifiers: frozenset   # lower-cased qualifiers of its column refs


@dataclass(frozen=True)
class Merge:
    target: tuple
    target_alias: str | None
    source: tuple | None        # a named source ...
    source_query: str | None    # ... or the text of USING (<query>)
    source_alias: str | None
    on: tuple                   # Equality per AND-term
    clauses: tuple              # When: matched, not matched, by source


@dataclass(frozen=True)
class Delete:
    target: tuple
    alias: str | None
    where: str              # `true` when there is no WHERE


@dataclass(frozen=True)
class Update:
    target: tuple
    alias: str | None
    assignments: tuple      # (column nameParts, value text) per SET item
    where: str | None


@dataclass(frozen=True)
class Insert:
    target: tuple
    cols: tuple             # the user's column list, empty when absent
    partition: tuple        # (column, value or None) per PARTITION item
    overwrite: bool
    query: str              # text of the source: all after the header


@dataclass(frozen=True)
class Truncate:
    target: tuple


def _parse(spark, sql: str):
    from pyspark.errors import ParseException

    try:
        return spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except ParseException as exc:
        params = exc.getMessageParameters() or {}
        raise SqlSyntaxError(str(exc).strip().splitlines()[0],
                             params.get("error", "").strip("'"),
                             params.get("hint", "")) from None


def _cls(node) -> str:
    return node.nodeName()  # the class's simple name, one py4j call


def _opt(option):
    return option.get() if option.isDefined() else None


def _seq(coll) -> list:
    return [coll.apply(i) for i in range(coll.size())]


def _span(node) -> tuple:
    origin = node.origin()
    return (origin.startIndex().get(), origin.stopIndex().get())


def _text(node, sql: str) -> str:
    """Source text of an expression node. A boolean literal, or any node
    whose origin is another statement's, renders itself instead."""
    origin = node.origin()
    if (_cls(node) == "Literal" and isinstance(node.value(), bool)
            or _opt(origin.sqlText()) != sql):
        return node.sql()
    return sql[origin.startIndex().get():origin.stopIndex().get() + 1]


def _extent(plan, sql: str) -> str:
    """Text of a whole query: ``ORDER BY``/``LIMIT`` nodes cover only
    their own clause, so take the outermost offsets of the subtree."""
    spans, stack = [], [plan]
    while stack:
        node = stack.pop()
        spans.append(_span(node))
        stack.extend(_seq(node.children()))
    return sql[min(s for s, _ in spans):max(e for _, e in spans) + 1]


def _parts(relation) -> tuple:
    return tuple(_seq(relation.multipartIdentifier()))


def _travel(node, sql: str) -> TimeTravel:
    clause = _span(node)
    ts = _opt(node.timestamp())
    if ts is not None:
        return TimeTravel("TIMESTAMP", clause, None, False, _text(ts, sql))
    last = sql[clause[1]]  # an integer ends in a digit, a string in a quote
    return TimeTravel("VERSION", clause, _opt(node.version()),
                      last in "'\"", None)


def query_refs(spark, sql: str) -> QueryRefs:
    """Every table reference in a query, and the CTE names it binds."""
    rels: list = []
    ctes: set = set()

    def walk(node, alias_start=None, whole=True):
        cls = _cls(node)
        if cls in ("UnresolvedRelation", "RelationTimeTravel"):
            travel = None
            if cls == "RelationTimeTravel":
                travel, node = _travel(node, sql), node.relation()
                if _cls(node) != "UnresolvedRelation":
                    return
            span = _span(node)
            rels.append(Relation(_parts(node), span, alias_start == span[0],
                                 whole and travel is None, travel))
            return
        if cls == "UnresolvedWith":
            for pair in _seq(node.cteRelations()):
                ctes.add(pair._1().lower())
                walk(pair._2())
        if cls == "ExplainCommand":  # EXPLAIN <query>: not a child either
            walk(node.logicalPlan())
        start = _span(node)[0] if cls == "SubqueryAlias" else None
        for child in _seq(node.children()):
            walk(child, start, cls.split()[0] in _QUERY_HOLDERS)
        for sub in _seq(node.subqueries()):
            walk(sub)

    walk(_parse(spark, sql))
    return QueryRefs(tuple(rels), frozenset(ctes))


def _target(node):
    """(nameParts, explicit alias or None) of a DML target, or None
    when the target is not a plain table reference."""
    alias = None
    if _cls(node) == "SubqueryAlias":
        alias, node = node.alias(), node.child()
    if _cls(node) != "UnresolvedRelation":
        return None
    return _parts(node), alias


def _qualifiers(expr) -> frozenset:
    out, stack = set(), [expr]
    while stack:
        e = stack.pop()
        if _cls(e) == "UnresolvedAttribute":
            parts = _seq(e.nameParts())
            if len(parts) > 1:
                out.add(parts[0].lower())
        else:
            stack.extend(_seq(e.children()))
    return frozenset(out)


def _spark_order(spark, sql: str) -> str:
    """``sql`` with its MERGE WHEN clauses in the order Spark's grammar
    requires (MATCHED, NOT MATCHED [BY TARGET], NOT MATCHED BY SOURCE),
    each group in statement order, minus the clauses that follow an
    unconditional clause of their group (Spark rejects those). A row
    goes to the FIRST clause that admits it, and the groups are
    disjoint, so neither step changes the statement's meaning. The
    clauses are found with Spark's own lexer: a literal or comment is
    one token, never a keyword. Clauses are joined by newlines, so a
    ``--`` comment that ended a clause still ends where it did."""
    jvm = spark._jvm
    lexer = jvm.org.apache.spark.sql.catalyst.parser.SqlBaseLexer(
        jvm.org.antlr.v4.runtime.CharStreams.fromString(sql))
    words, depth = [], 0  # (upper-cased text, start) of top-level tokens
    for tok in lexer.getAllTokens():
        if tok.getChannel() != 0:  # whitespace and comments
            continue
        start = tok.getStartIndex()
        word = sql[start:tok.getStopIndex() + 1].upper()
        depth += (word == "(") - (word == ")")
        if depth == 0:
            words.append((word, start))
    seq = [w for w, _ in words]
    heads = [i for i, w in enumerate(seq) if w == "WHEN" and (
        seq[i + 1:i + 2] == ["MATCHED"]
        or seq[i + 1:i + 3] == ["NOT", "MATCHED"])]
    if not heads:
        return sql
    end = len(sql.rstrip("; \t\r\n"))
    clauses = []
    for n, i in enumerate(heads):
        stop = words[heads[n + 1]][1] if n + 1 < len(heads) else end
        w = seq[i:i + 7] + [""] * 7
        k = 3 if w[1] == "NOT" else 2  # just past MATCHED
        group = 0 if k == 2 else 2 if w[k:k + 2] == ["BY", "SOURCE"] else 1
        k += 2 if w[k] == "BY" else 0
        clauses.append((group, w[k] == "AND", sql[words[i][1]:stop].strip()))
    kept, closed = [], set()
    for group, conditional, text in sorted(clauses, key=lambda c: c[0]):
        if group not in closed:
            kept.append(text)
        if not conditional:
            closed.add(group)
    return sql[:words[heads[0]][1]] + "\n".join(kept) + sql[end:]


def _merge(plan, sql: str) -> Merge | None:
    target = _target(plan.targetTable())
    source = plan.sourceTable()
    s_alias = None
    if _cls(source) == "SubqueryAlias":
        s_alias, source = source.alias(), source.child()
    if target is None:
        return None
    named = _cls(source) == "UnresolvedRelation"
    terms, stack = [], [plan.mergeCondition()]
    while stack:  # AND-terms, left to right
        e = stack.pop()
        if _cls(e) == "And":
            stack += [e.right(), e.left()]
            continue
        cols = [tuple(_seq(c.nameParts()))
                if _cls(c) == "UnresolvedAttribute" else None
                for c in _seq(e.children())] if _cls(e) == "EqualTo" else []
        terms.append(Equality(_text(e, sql), *(cols or [None, None])))
    clauses = []
    for state, actions in (("matched", plan.matchedActions()),
                           ("not_matched", plan.notMatchedActions()),
                           ("not_matched_by_source",
                            plan.notMatchedBySourceActions())):
        for a in _seq(actions):
            cond = _opt(a.condition())
            clauses.append(When(
                state, _ACTIONS.get(_cls(a), _cls(a)),
                None if cond is None else _text(cond, sql),
                frozenset() if cond is None else _qualifiers(cond)))
    return Merge(target[0], target[1], _parts(source) if named else None,
                 None if named else _extent(source, sql), s_alias,
                 tuple(terms), tuple(clauses))


def statement(spark, sql: str):
    """The :class:`Merge` / :class:`Delete` / :class:`Update` /
    :class:`Insert` / :class:`Truncate` record of ``sql``, or None for a
    statement of any other shape (``INSERT ... BY NAME``, a time-travel
    target, ``TRUNCATE ... PARTITION`` ...). Raises
    :class:`SqlSyntaxError` when ``sql`` does not parse. A MERGE whose
    WHEN clauses Spark's grammar refuses only for their order is parsed
    as :func:`_spark_order` rewrites it."""
    try:
        plan = _parse(spark, sql)
    except SqlSyntaxError:
        ordered = (_spark_order(spark, sql)
                   if sql.lstrip()[:5].upper() == "MERGE" else sql)
        if ordered == sql:
            raise
        sql, plan = ordered, _parse(spark, ordered)
    cls = _cls(plan)
    if cls == "MergeIntoTable":
        return _merge(plan, sql)
    if cls in ("DeleteFromTable", "UpdateTable"):
        target = _target(plan.table())
        if target is None:
            return None
        if cls == "DeleteFromTable":
            return Delete(*target, _text(plan.condition(), sql))
        cond = _opt(plan.condition())
        return Update(*target, tuple(
            (tuple(_seq(a.key().nameParts())), _text(a.value(), sql))
            for a in _seq(plan.assignments())),
            None if cond is None else _text(cond, sql))
    if cls == "InsertIntoStatement":
        target = _target(plan.table())
        if target is None or plan.byName() or plan.ifPartitionNotExists():
            return None
        # the statement's own origin is its `INSERT ... (cols)` header;
        # the source is the rest (no node covers a `TABLE x` keyword)
        return Insert(target[0], tuple(_seq(plan.userSpecifiedCols())),
                      tuple((kv._1(), _opt(kv._2()))
                            for kv in _seq(plan.partitionSpec().toSeq())),
                      plan.overwrite(),
                      sql[_span(plan)[1] + 1:len(sql.rstrip("; \t\r\n"))])
    if cls == "TruncateTable" and _cls(plan.child()) == "UnresolvedTable":
        return Truncate(_parts(plan.child()))
    return None
