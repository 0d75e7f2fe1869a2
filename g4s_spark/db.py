"""GraphDB — the top-level facade mirroring the reference's pipeline entry
(g4s-matrix-graph/.../graph/GraphDB.scala:10-32: "parsing / optimising /
evaluating graph queries" — whose eval step the reference left commented
out; here the full pipeline runs).

    db = GraphDB(graph)
    db.query("MATCH (a:A)-[:X]->(b:B) RETURN b")        # ids per binding
    db.query(..., resolve=True)                          # + payload labels
    db.explain("MATCH ...")                              # planner steps

Result semantics follow the Readme traverser spec (Readme.md:66-70):
distinct rows over the returned bindings, resolvable to vertex payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .cypher.parser import CypherParseError, parse_statement, stage_query_graph
from .cypher.tokenizer import CypherLexError
from .graph.store import PropertyGraph
from .plans.planner import WRITERS, PlannedQuery, explain_cypher, plan_match, run_cypher


class GraphDB:
    def __init__(self, graph: PropertyGraph):
        self.graph = graph

    def query(
        self, cypher: str, resolve: bool = False, params: dict | None = None
    ) -> DataFrame:
        """``params`` binds ``$name`` query parameters (round-8)."""
        return run_cypher(self.graph, cypher, resolve=resolve, params=params)

    def update(self, cypher: str) -> "GraphDB":
        """Mutation statements — ``MATCH ... SET b.prop = value``,
        ``MERGE ...`` (with ON CREATE SET / ON MATCH SET), ``CREATE ...``,
        ``MATCH ... [DETACH] DELETE ...`` and ``MATCH ... REMOVE b.prop``
        — returning a NEW GraphDB over the updated graph (immutable
        rewrite; see the run_cypher_* statement runners in plans).

        The statement is parsed once (parse_statement) and runs the
        writer of its tree's write node, so a verb inside a string
        literal never routes and a statement with two write clauses is
        rejected. Text the tokenizer cannot lex — an unterminated
        literal, or a backslash-escaped quote the literal grammar does
        not support — is rejected rather than routed."""
        try:
            stmt = parse_statement(cypher)
        except CypherParseError as e:
            if not isinstance(e.__cause__, CypherLexError):
                raise
            if "\\'" in cypher or '\\"' in cypher:
                raise ValueError(
                    "update(): backslash-escaped quotes are not supported by "
                    "the literal grammar (every literal is '[^']*'); use the "
                    "other quote style for the literal"
                ) from e
            raise ValueError(
                f"update(): unbalanced quote or bracket in statement: {e}"
            ) from e
        if stmt.write is None:
            raise CypherParseError(
                "update() takes a write statement (SET, REMOVE, [DETACH] "
                f"DELETE, CREATE or MERGE): {stmt.text!r}"
            )
        return GraphDB(WRITERS[type(stmt.write)](self.graph, stmt))

    def plan(self, cypher: str) -> PlannedQuery:
        stage = parse_statement(cypher).single_stage()
        if stage is None:
            raise ValueError(
                "plan() covers single-stage MATCH ... RETURN queries; UNION, "
                "UNWIND and WITH statements execute part by part and stage "
                "by stage via query() (each stage is a plan_match call with "
                "the previous stage's output as carry)"
            )
        return plan_match(self.graph, stage_query_graph(*stage))

    def explain(
        self,
        cypher: str,
        params: dict | None = None,
        spark_plan: bool = False,
    ) -> str:
        """Step trace + cost estimate (round-8: now covers compound
        queries, $params, and an optional Spark physical plan — see
        plans.explain_cypher)."""
        return explain_cypher(
            self.graph, cypher, params=params, spark_plan=spark_plan
        )
