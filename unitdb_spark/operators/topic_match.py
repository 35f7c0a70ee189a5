"""Spark SQL predicates for (symmetric) wildcard topic matching.

The reference resolves wildcard matches with an in-RAM trie traversal
(reference: trie.go:156-188, message/topic.go:231-296). In Spark the
equivalent is a *predicate expression* over the stored ``topic`` /
``parts`` / ``depth`` / ``has_tail`` / ``is_pattern`` columns, generated
in Python from the (known) query pattern, so that:

- static-topic queries collapse to ``topic = 'a.b.c'`` — a plain
  equality Catalyst pushes into the Parquet scan;
- wildcard queries become conjunctions of ``get(parts, i)`` equalities
  and a depth check — still JVM-side, whole-stage-codegen friendly,
  with NO Python UDF in the hot path;
- stored-side patterns (wildcards are legal on write,
  db_test.go:296-317) are matched with the symmetric direction OR-ed
  in.

The predicate is emitted as ONE Spark SQL string and parsed with a
single ``F.expr``: building it node by node from ``F.col``/``F.lit``
costs one Python→JVM round trip per node (~800 for a depth-3 wildcard
query), parsing it costs three. String literals are escaped for Spark's parser
(backslash first, then the quote), and ``$`` is written as ``\\u0024`` so the
parser's ``${...}`` variable substitution, which runs on the raw text
before literals are read, never sees a ``${`` in a topic.

Column layout expected on the messages table (SURVEY §1.3):
``topic STRING, parts ARRAY<STRING>, depth INT, has_tail BOOLEAN,
is_pattern BOOLEAN`` where ``parts`` contains wildcard tokens verbatim
and ``has_tail`` marks a trailing '...'. ``depth = size(parts)`` (tail
token excluded).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column
from pyspark.sql import functions as F

from unitdb_spark.core.topic import (
    WILDCARD_ONE,
    WILDCARD_TAIL,
    TopicKind,
    TopicSpec,
    parse_topic,
)


def _lit(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    s = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return "'" + s + "'"


def _all(conds: list[str]) -> str:
    """Left-nested conjunction: the SQL parser would balance a flat
    ``a AND b AND c`` chain, while ``&``-chained Columns nest to the
    left; nesting explicitly gives Catalyst that same tree."""
    out = conds[0]
    for c in conds[1:]:
        out = f"({out} AND {c})"
    return out


def _match_sql(spec: TopicSpec, symmetric: bool) -> str:
    """The match predicate for one query topic, as Spark SQL text.

    Forward direction: the query pattern against the stored topic
    *treated as concrete*, where a stored trailing '...' counts as one
    literal level, exactly like the Python reference matcher
    (core.topic._pattern_matches). Reverse direction (``symmetric``):
    stored patterns against the query treated as concrete, guarded by
    ``is_pattern`` so Parquet receives the pushable
    ``Or(topic = x, is_pattern)`` residual and prunes pattern-free row
    groups on stats.

    A *necessary* (weaker) ``coarse`` condition built only from pushable
    predicates (string equality / StartsWith) is AND-ed onto the exact
    match as a redundant conjunct. Catalyst can't derive it from the OR
    of array conditions itself, but given explicitly it reaches the
    Parquet scan and prunes row groups holding neither the topic prefix
    nor any stored patterns.
    """
    if spec.kind == TopicKind.STATIC:
        fwd = f"topic = {_lit(spec.raw)}"
        if not symmetric:
            return fwd
        # StartsWith, not equality: a plain `topic = x` here would be a
        # common factor with the exact branch and Catalyst's boolean
        # simplification would refactor `(x|rev)&(x|pat)` back into
        # `x|(rev&pat)`, dropping the pushable conjunct. The strict
        # superset survives optimization and still prunes row groups.
        coarse = f"startswith(topic, {_lit(spec.raw)})"
    else:
        base = spec.base_parts
        conds = [
            f"depth + CAST(has_tail AS INT) {'>=' if spec.has_tail else '='} {len(base)}"
        ]
        conds += [
            f"CASE WHEN {i} < depth THEN get(parts, {i}) ELSE '{WILDCARD_TAIL}' END = {_lit(p)}"
            for i, p in enumerate(base)
            if p != WILDCARD_ONE
        ]
        fwd = _all(conds)
        # concrete prefix before the first wildcard token
        prefix = list(itertools.takewhile(lambda p: p != WILDCARD_ONE, base))
        under = f"startswith(topic, {_lit('.'.join(prefix) + '.')})"
        if not prefix:
            coarse = None  # bare '*' / '...' — nothing pushable
        elif len(prefix) == len(base) and spec.has_tail:
            # 'a.b...' -> exactly 'a.b' or anything under 'a.b.'
            coarse = f"(topic = {_lit('.'.join(prefix))} OR {under})"
        else:
            coarse = under
    if symmetric:
        qd = len(spec.parts)  # the query's own '...' counts as a level
        eq = [
            f"(get(parts, {i}) = {_lit(p)} OR get(parts, {i}) = '{WILDCARD_ONE}')"
            for i, p in enumerate(spec.parts)
        ]
        # stored has trailing '...': base must be a (wildcard-tolerant) prefix
        tail = ["has_tail", f"depth <= {qd}"]
        tail += [f"(depth < {i + 1} OR {c})" for i, c in enumerate(eq)]
        # stored flat pattern: same depth, each part equal or '*'
        flat = ["(NOT has_tail)", f"depth = {qd}", *eq]
        rev = f"(is_pattern AND ({_all(tail)} OR {_all(flat)}))"
        fwd = f"({fwd} OR {rev})"
        if coarse is not None:
            coarse = f"({coarse} OR is_pattern)"
    return fwd if coarse is None else f"({fwd} AND {coarse})"


def topic_match_expr(
    query_topic: str | TopicSpec,
    symmetric: bool = True,
    contract: int | None = None,
) -> Column:
    """Build the match predicate for one query topic as one Column.

    ``symmetric=True`` reproduces the reference's both-direction match
    (stored pattern OR query pattern — db_test.go:296-317). Set it
    False when the table is known to hold only concrete topics: the
    resulting predicate is then a pure conjunction that Catalyst can
    push down fully. A ``contract`` is AND-ed in front of the match.
    """
    spec = parse_topic(query_topic) if isinstance(query_topic, str) else query_topic
    sql = _match_sql(spec, symmetric)
    if contract is not None:
        sql = f"contract = {int(contract)} AND ({sql})"
    return F.expr(sql)
