"""The Catalyst parser surface that lake/sql_ast.py reads.

``sql_ast`` is the one module that touches Spark's internal parser
(``sessionState().sqlParser().parsePlan``) and walks the py4j plan
nodes it returns. This test pins every node class name it dispatches
on, every accessor it calls and the origin offsets it slices, so a
Spark upgrade that moves any of them fails here, in one place, rather
than as a wrong rewrite somewhere in the SQL front end.
"""

from __future__ import annotations

import pytest

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
    sql_ast as A,
)


def _names(node, out):
    """Node class names, preorder, through every edge the walk uses."""
    out.append(A._cls(node))
    if A._cls(node) == "UnresolvedWith":
        for pair in A._seq(node.cteRelations()):
            _names(pair._2(), out)
    if A._cls(node) == "RelationTimeTravel":
        _names(node.relation(), out)
    for child in A._seq(node.children()):
        _names(child, out)
    for sub in A._seq(node.subqueries()):
        _names(sub, out)
    return out


@pytest.mark.smoke
def test_catalyst_surface_pinned(spark):
    # -- queries: relations, aliases, time travel, CTEs, subqueries ------
    q = ("WITH c AS (SELECT * FROM db.x) SELECT t.v FROM db.t VERSION AS "
         "OF 3 a, c, db.t FOR SYSTEM_VERSION AS OF 'rel' WHERE k IN "
         "(SELECT k FROM u TIMESTAMP AS OF TIMESTAMP '2026-01-01 00:00:00')")
    assert _names(A._parse(spark, q), []) == [
        "UnresolvedWith", "SubqueryAlias", "Project", "UnresolvedRelation",
        "Project", "Filter", "Join", "Join", "SubqueryAlias",
        "RelationTimeTravel", "UnresolvedRelation", "UnresolvedRelation",
        "RelationTimeTravel", "UnresolvedRelation", "Project",
        "RelationTimeTravel", "UnresolvedRelation"]
    refs = A.query_refs(spark, q)
    assert refs.ctes == frozenset({"c"})
    assert refs.relations == (
        A.Relation(("db", "x"), (25, 28), False, False, None),
        A.Relation(("db", "t"), (47, 50), True, False,
                   A.TimeTravel("VERSION", (52, 66), "3", False, None)),
        A.Relation(("c",), (71, 71), False, False, None),
        A.Relation(("db", "t"), (74, 77), False, False,
                   A.TimeTravel("VERSION", (79, 108), "rel", True, None)),
        A.Relation(("u",), (136, 136), False, False,
                   A.TimeTravel("TIMESTAMP", (138, 184), None, False,
                                "TIMESTAMP '2026-01-01 00:00:00'")))
    assert q[79:109] == "FOR SYSTEM_VERSION AS OF 'rel'"

    # -- `TABLE <name>`: a relation where a whole query stands ------------
    tq = ("(TABLE db.a) EXCEPT ALL TABLE db.b UNION SELECT * FROM (TABLE "
          "db.c) x, (db.d) y -- TABLE\n, db.e ORDER BY 1 LIMIT 2")
    assert _names(A._parse(spark, tq), [])[:6] == [
        "GlobalLimit", "LocalLimit", "Sort", "Distinct", "Union",
        "Except All"]
    assert [(r.parts[-1], r.table_form)
            for r in A.query_refs(spark, tq).relations] == [
        ("a", True), ("b", True), ("c", True), ("d", True), ("e", False)]
    assert [r.table_form for r in A.query_refs(
        spark, "WITH w AS (TABLE db.a) TABLE db.b").relations] == [True, True]

    # -- MERGE: clause lists, ON terms, inner-node spans -----------------
    m = ("MERGE INTO db.t t USING src s ON s.k = t.k AND s.j = t.j "
         "WHEN MATCHED AND s.op = 'd' THEN DELETE "
         "WHEN MATCHED THEN UPDATE SET * "
         "WHEN NOT MATCHED AND s.n > 0 THEN INSERT * "
         "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    plan = A._parse(spark, m)
    assert _names(plan, []) == ["MergeIntoTable", "SubqueryAlias",
                                "UnresolvedRelation", "SubqueryAlias",
                                "UnresolvedRelation"]
    # the aliases carry the whole statement's origin; the inner nodes
    # carry the names'
    assert A._span(plan.targetTable()) == (0, len(m) - 1)
    assert A._span(plan.targetTable().child()) == (11, 14)
    cond = plan.mergeCondition()
    assert A._cls(cond) == "And"
    assert [A._cls(e) for e in A._seq(cond.left().children())] == [
        "UnresolvedAttribute", "UnresolvedAttribute"]
    assert [[A._cls(a) for a in A._seq(actions)] for actions in (
        plan.matchedActions(), plan.notMatchedActions(),
        plan.notMatchedBySourceActions())] == [
        ["DeleteAction", "UpdateStarAction"], ["InsertStarAction"],
        ["DeleteAction"]]
    assert A.statement(spark, m) == A.Merge(
        ("db", "t"), "t", ("src",), None, "s",
        (A.Equality("s.k = t.k", ("s", "k"), ("t", "k")),
         A.Equality("s.j = t.j", ("s", "j"), ("t", "j"))),
        (A.When("matched", "delete", "s.op = 'd'", frozenset({"s"})),
         A.When("matched", "update_star", None, frozenset()),
         A.When("not_matched", "insert_star", "s.n > 0", frozenset({"s"})),
         A.When("not_matched_by_source", "delete", None, frozenset())))
    m2 = ("MERGE INTO db.t USING (SELECT * FROM v ORDER BY k LIMIT 9) s "
          "ON s.k < t.k WHEN MATCHED THEN UPDATE SET t.a = 1")
    assert _names(A._parse(spark, m2), [])[:6] == [
        "MergeIntoTable", "UnresolvedRelation", "SubqueryAlias",
        "GlobalLimit", "LocalLimit", "Sort"]
    assert A.statement(spark, m2) == A.Merge(
        ("db", "t"), None, None, "SELECT * FROM v ORDER BY k LIMIT 9", "s",
        (A.Equality("s.k < t.k", None, None),),
        (A.When("matched", "update", None, frozenset()),))

    # -- DELETE / UPDATE / INSERT / TRUNCATE ------------------------------
    d = 'DELETE FROM db.t AS t WHERE t.c = "t.co"'
    assert _names(A._parse(spark, d), []) == [
        "DeleteFromTable", "SubqueryAlias", "UnresolvedRelation"]
    assert A.statement(spark, d) == A.Delete(("db", "t"), "t", 't.c = "t.co"')
    # no WHERE: the shared `true` literal stands in. Boolean literals are
    # two shared nodes whose origin is another statement's, so their
    # text comes from the node, never from a slice
    A._parse(spark, "SELECT 1 AS n, 2 AS m, true AS b")
    whole = A._parse(spark, "DELETE FROM db.t").condition()
    assert A._cls(whole) == "Literal" and whole.value() is True
    assert A._opt(whole.origin().sqlText()) != "DELETE FROM db.t"
    assert A.statement(spark, "DELETE FROM db.t") == A.Delete(
        ("db", "t"), None, "true")
    assert A.statement(spark, "DELETE FROM db.t WHERE FALSE") == A.Delete(
        ("db", "t"), None, "false")
    u = 'UPDATE db.t x SET c = "x, y", x.a = x.a + 1 WHERE k = 2'
    key = A._seq(A._parse(spark, u).assignments())[0].key()
    assert A._span(key) == (18, 42)  # the whole SET list, not the column
    assert A.statement(spark, u) == A.Update(
        ("db", "t"), "x", ((("c",), '"x, y"'), (("x", "a"), "x.a + 1")),
        "k = 2")
    assert A.statement(spark, "UPDATE t SET f = false, g = null WHERE true") \
        == A.Update(("t",), None, ((("f",), "false"), (("g",), "null")),
                    "true")
    i = "INSERT INTO db.t (k, c) SELECT 1, 'a'"
    assert _names(A._parse(spark, i), []) == [
        "InsertIntoStatement", "Project", "OneRowRelation"]
    # the statement's origin is the header; the source is what follows
    assert A._span(A._parse(spark, i)) == (0, 22)
    assert A.statement(spark, i) == A.Insert(
        ("db", "t"), ("k", "c"), (), False, " SELECT 1, 'a'")
    o = "INSERT OVERWRITE TABLE db.t PARTITION (p = '01') TABLE v;"
    assert A.statement(spark, o) == A.Insert(
        ("db", "t"), (), (("p", "01"),), True, " TABLE v")
    assert A.statement(spark, "INSERT INTO db.t BY NAME SELECT 1 AS k") is None
    assert _names(A._parse(spark, "TRUNCATE TABLE db.t"), []) == [
        "TruncateTable", "UnresolvedTable"]
    assert A.statement(spark, "TRUNCATE TABLE db.t") == A.Truncate(
        ("db", "t"))
    assert A.statement(spark, "TRUNCATE TABLE db.t PARTITION (p = 1)") is None
    assert A.statement(spark, "SELECT 1") is None

    # -- WHEN clauses in an order Spark's grammar refuses: Spark's lexer
    # finds them; they are regrouped and unreachable ones dropped
    m3 = ("MERGE INTO t t USING s s ON s.k = t.k "
          "WHEN NOT MATCHED AND s.c = 'WHEN MATCHED' THEN INSERT * "
          "WHEN MATCHED THEN DELETE "
          "WHEN MATCHED AND CASE WHEN NOT s.f THEN true END "
          "THEN UPDATE SET *;")
    with pytest.raises(A.SqlSyntaxError):
        A._parse(spark, m3)
    assert A._spark_order(spark, m3) == (
        "MERGE INTO t t USING s s ON s.k = t.k WHEN MATCHED THEN DELETE\n"
        "WHEN NOT MATCHED AND s.c = 'WHEN MATCHED' THEN INSERT *;")
    got = A.statement(spark, m3)
    assert [(c.matched, c.action) for c in got.clauses] == [
        ("matched", "delete"), ("not_matched", "insert_star")]
    # a clause ending in a `--` comment keeps its line end when moved;
    # a comment between WHEN and MATCHED is not a token of the clause
    m4 = ("MERGE INTO t t USING s s ON s.k = t.k\n"
          "WHEN NOT MATCHED THEN INSERT *\n"
          "WHEN /* c */ MATCHED AND s.op = 'd' THEN DELETE -- tombstones\n"
          "WHEN MATCHED THEN UPDATE SET *")
    assert [(c.matched, c.action) for c in A.statement(spark, m4).clauses] \
        == [("matched", "delete"), ("matched", "update_star"),
            ("not_matched", "insert_star")]

    # -- syntax errors: the offending token and Spark's hint --------------
    with pytest.raises(A.SqlSyntaxError) as ei:
        A.statement(spark, "MERGE INTO t t USING s s ON s.k = t.k "
                           "WHEN NOT MATCHED THEN UPDATE SET *")
    assert (ei.value.token, ei.value.hint) == ("UPDATE", "")
    assert str(ei.value).startswith("[PARSE_SYNTAX_ERROR]")
    with pytest.raises(A.SqlSyntaxError) as ei:
        A.statement(spark, "MERGE INTO t t USING (SELECT * FROM v s "
                           "ON s.k = t.k WHEN MATCHED THEN DELETE")
    assert (ei.value.token, ei.value.hint) == ("ON", ": missing ')'")
