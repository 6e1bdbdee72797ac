"""SPARQL basic-graph-pattern queries compiled to DataFrame plans (EP3).

The reference's 4th phase sends a SPARQL SELECT to an external triplestore
(eco_kg/query.py:7-13 via SPARQLWrapper) and dumps bindings to TSV
(query.py:20-36). This engine holds the graph in kg nodes/edges tables, so
the same queries compile straight to Catalyst plans — no endpoint:

  supported grammar (the reference's published query shape,
  tests/test_query.py:29-40, plus conjunctive patterns and one notch
  beyond parity — DISTINCT, equality FILTERs, OPTIONAL, ORDER BY/LIMIT):

    SELECT [DISTINCT] (agg AS ?alias)* ?var*
    WHERE { pattern (('.' pattern) | filter | notexists | exists | minus
                     | optional | union | values | bind | subquery)* }
    [GROUP BY (?var | (expr AS ?var))*] [HAVING( agg cmp value )]
    [ORDER BY (?var | ASC(?var) | DESC(?var))*] [LIMIT n] [OFFSET n]
    (GROUP BY (expr AS ?var) desugars to an implicit BIND — any BIND-
    grammar expression works; the new variable is projectable)
    (OFFSET requires ORDER BY — an unordered slice is nondeterministic)

    ASK { <same WHERE body> }                       -- sparql_ask()
    CONSTRUCT { pattern+ } WHERE { <body> }         -- sparql_construct()
    DESCRIBE ?var+ WHERE { <body> }                 -- sparql_describe()

    agg      := COUNT([DISTINCT] ?x) | COUNT(*) | MIN(?x) | MAX(?x)
              | SUM(?x) | AVG(?x) | SAMPLE(?x)  (deterministic: MIN)
              | GROUP_CONCAT(?x [; SEPARATOR="s"])
    pattern  := term path term
    term     := ?var | CURIE | literal  (e.g. biolink:category, TO:0000433)
    path     := term | step('/'step)*
    step     := ['^'](CURIE | '('alt('|'alt)*')'
                      | '!'CURIE | '!('CURIE('|'CURIE)*')')['+'|'*'|'?']
    alt      := ['^']CURIE   (negated sets: forward CURIEs only)
    filter   := FILTER( ?var (=|!=|>|<|>=|<=) value )
              | FILTER regex(?var, "re" [,"i"])
              | FILTER( (STRSTARTS|STRENDS|CONTAINS)(?var, "lit") )
              | FILTER( ?var [NOT] IN (value (, value)*) )
              value := "quoted" | token
    notexists:= FILTER NOT EXISTS { pattern (. pattern)* }
    exists   := FILTER EXISTS { pattern (. pattern)* }
    minus    := MINUS { pattern (. pattern)* }
    optional := OPTIONAL { pattern (. pattern)* filter* }
    union    := { pattern+ } UNION { pattern+ } (UNION { pattern+ })*
    values   := VALUES ?var { value+ }
              | VALUES ( ?var+ ) { ( (value|UNDEF)+ )+ }  (inline
                solution table; UNDEF is the spec's wildcard — the
                conjunct for that variable is skipped)
    bind     := BIND( expr AS ?newvar )
    subquery := '{' SELECT ... '}'  (one nesting level; evaluated
                bottom-up per spec §12, exposes only its projected
                variables/aliases, joins the outer solution on shared
                variables — cross product when none are shared, the
                global-aggregate case)
    expr     := ?var | "literal" | integer
              | CONCAT(expr, ...) | STRLEN(e) | UCASE(e) | LCASE(e)
              | STR(e) | STRAFTER(e, "lit") | STRBEFORE(e, "lit")
              | SUBSTR(e, start[, len])  (1-based, spec §17.4.3.3)
              | IF(cond, e, e) | COALESCE(e, ...) | BOUND(?var)
              cond := e (=|!=|>|<|>=|<=) e | BOUND(?var)

  BIND evaluates its expression over the joined required patterns (every
  referenced variable must be pattern-bound — SPARQL's in-scope rule for
  the simple trailing-BIND placement this grammar accepts) and the new
  variable is then projectable / filterable / groupable like any other.
  GROUP_CONCAT sorts the group's values before joining (SPARQL leaves the
  order implementation-defined; sorting makes it deterministic and lets
  the DuckDB oracle recompute it with string_agg(... ORDER BY)).
  FILTER regex() compiles to an RE2-safe rlike — the pattern must avoid
  backreferences/lookaround, same rule as the PII/extraction regexes.

  FILTER NOT EXISTS compiles to a LEFT ANTI join of the inner group
  against the required solution on their shared variables — the spec's
  "no compatible solution exists" test for the variable-sharing case
  (SPARQL 1.1 §8.1.1); a NOT EXISTS group sharing no variable with the
  required part is rejected rather than silently reinterpreted as an
  is-the-subquery-empty test. FILTER EXISTS is the dual — a LEFT SEMI
  join on the shared variables (same no-shared-variable rejection).
  MINUS (§8.3) also anti-joins on shared variables, but its
  no-shared-variable case is DIFFERENT by spec: dom(μ1) ∩ dom(μ2) = ∅
  makes every inner solution non-compatible, so MINUS removes NOTHING —
  compiled faithfully as a no-op (the spec's own EXISTS-vs-MINUS
  divergence example, §8.3.3). MIN/MAX aggregate RDF terms by codepoint
  string order (the only term type these KG tables hold); COUNT(DISTINCT)
  is the spec's set-cardinality form. SUM/AVG apply SPARQL's numeric
  semantics by casting the term's lexical form to double (a non-numeric
  lexical form becomes NULL and is skipped, where strict SPARQL would
  raise a type error — documented divergence, same policy as DuckDB's
  TRY_CAST). HAVING( agg cmp value ) filters groups after aggregation;
  the aggregate is computed as a hidden column so it need not appear in
  the SELECT list.

  ASK { body } (sparql_ask) returns a single-row DataFrame with one
  boolean `ask` column — true iff the body has at least one solution
  (evaluated as limit(1) + count, never a full materialization).
  CONSTRUCT { template } WHERE { body } (sparql_construct) instantiates
  each template triple per solution, drops any instantiation with an
  unbound (NULL, e.g. OPTIONAL-miss) position per spec §16.2, and
  returns the SET of triples (subject, predicate, object) — distinct,
  because a CONSTRUCT result is an RDF graph.

  UNION compiles each branch to its own conjunctive join, aligns branches
  on variable name (a variable absent from a branch binds NULL, per SPARQL
  solution-mapping semantics) and unions them bag-style (unionByName,
  duplicates kept); the union block then joins the required patterns on
  shared variables like any other pattern. VALUES requires its variable to
  be pattern-bound and compiles to an IN-list filter — equivalent to the
  SPARQL inline-data join for DISTINCT value lists (duplicate values in
  the block, which real SPARQL would multiply rows by, are rejected).

  Property paths (SPARQL 1.1 §9): a sequence `p1/p2` compiles to an
  edge-edge equi-join on the hidden midpoint; `p+` (OneOrMorePath) is the
  transitive closure, evaluated SEMI-NAIVELY — each round joins only the
  NEW pairs (the frontier) against the base edges and anti-joins the
  accumulated closure, so work per round is proportional to newly
  discovered paths, not the whole closure (the standard Datalog delta
  rule; at cluster scale each round is one shuffle on the join key).
  Per the spec arbitrary-length paths are duplicate-free (node-pair set
  semantics), which is exactly what the closure produces; sequences keep
  bag semantics. `p*` (ZeroOrMorePath) and `p?` (ZeroOrOnePath) add the
  zero-length path, which per spec §9.3 binds every graph TERM to itself
  — here the union of edge subjects, edge objects and node ids. An `^p`
  step (InversePath) traverses the edge backwards — a column swap, free
  at plan time. Steps must be concrete edge predicates — variables or
  `biolink:category` (a node property here, not an edge) are rejected.

  OPTIONAL compiles to a LEFT OUTER join on the variables shared with the
  required patterns (unmatched rows bind the optional-only variables to
  NULL); an OPTIONAL block sharing no variable with the required part is
  rejected (a left cross product is never what a user means). A FILTER
  written INSIDE an OPTIONAL block is part of the LeftJoin condition
  (spec §6.1): when it references only block-bound variables it applies
  to the block's relation before the left join — exactly the spec
  semantics for that case — while a filter referencing required-side
  variables (a genuine join-condition filter) is rejected rather than
  silently reinterpreted. FILTERs outside any block apply after all
  joins.

  semantics:
    - predicate `biolink:category` reads the NODES table (id, category) —
      KGX stores category as a node property, exactly how the reference's
      triplestore exposed it;
    - any other predicate reads the EDGES table (subject, predicate,
      object);
    - conjunctive patterns join on shared variables (Catalyst picks
      broadcast vs shuffle; var-to-var joins are plain equi-joins);
    - COUNT + GROUP BY map to groupBy().agg(count).

Bindings come back as a DataFrame whose columns are the SELECT variables
(no '?'); sink_bindings gives them the reference's TSV sink shape (S17).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SELECT_RE = re.compile(
    r"(?is)^\s*SELECT\s+(DISTINCT\s+)?(.*?)\s+WHERE\s*"
    r"\{((?:[^{}]|\{(?:[^{}]|\{[^{}]*\})*\})*)\}"  # WHERE body, two nesting levels (block / subquery-with-WHERE)
    r"\s*(?:GROUP\s+BY\s+(.*?))?"
    r"\s*(?:HAVING\s*\((.*?)\))?"
    r"\s*(?:ORDER\s+BY\s+(.*?))?"
    r"\s*(?:LIMIT\s+(\d+))?"
    r"\s*(?:OFFSET\s+(\d+))?\s*$")
_ASK_RE = re.compile(
    r"(?is)^\s*ASK\s*\{((?:[^{}]|\{(?:[^{}]|\{[^{}]*\})*\})*)\}\s*$")
_CONSTRUCT_RE = re.compile(
    r"(?is)^\s*CONSTRUCT\s*\{([^{}]*)\}\s*WHERE\s*"
    r"\{((?:[^{}]|\{(?:[^{}]|\{[^{}]*\})*\})*)\}\s*$")
_AGG_RE = re.compile(
    r"\(\s*(COUNT|MIN|MAX|SUM|AVG|SAMPLE)\s*\(\s*(DISTINCT\s+)?\?(\w+)\s*\)"
    r"\s+AS\s+\?(\w+)\s*\)", re.I)
_COUNT_STAR_RE = re.compile(
    r"\(\s*COUNT\s*\(\s*\*\s*\)\s+AS\s+\?(\w+)\s*\)", re.I)
_HAVING_RE = re.compile(
    r'(?i)^\s*(COUNT|MIN|MAX|SUM|AVG)\s*\(\s*\?(\w+)\s*\)\s*'
    r'(>=|<=|!=|=|>|<)\s*("[^"]*"|-?[\d.]+)\s*$')
_GROUP_CONCAT_RE = re.compile(
    r"\(\s*GROUP_CONCAT\s*\(\s*\?(\w+)\s*"
    r'(?:;\s*SEPARATOR\s*=\s*("[^"]*"))?\s*\)'
    r"\s+AS\s+\?(\w+)\s*\)", re.I)
_BIND_RE = re.compile(
    r"(?is)BIND\s*\(\s*((?:[^()]|\((?:[^()]|\([^()]*\))*\))*?)"
    r"\s+AS\s+\?(\w+)\s*\)")
_REGEX_FILTER_RE = re.compile(
    r'(?i)FILTER\s*(\()?\s*regex\s*\(\s*\?(\w+)\s*,\s*"([^"]*)"'
    r'\s*(?:,\s*"([^"]*)")?\s*\)\s*(?(1)\))')
_NOT_EXISTS_RE = re.compile(r"(?is)FILTER\s+NOT\s+EXISTS\s*\{([^{}]*)\}")
_EXISTS_RE = re.compile(r"(?is)FILTER\s+EXISTS\s*\{([^{}]*)\}")
_MINUS_RE = re.compile(r"(?is)MINUS\s*\{([^{}]*)\}")
_VAR_RE = re.compile(r"\?(\w+)")
_FILTER_RE = re.compile(
    r'(?i)FILTER\s*\(\s*\?(\w+)\s*(>=|<=|!=|=|>|<)\s*("[^"]*"|[^\s)]+)\s*\)')
_STRFUNC_FILTER_RE = re.compile(
    r'(?i)FILTER\s*\(\s*(STRSTARTS|STRENDS|CONTAINS)\s*'
    r'\(\s*\?(\w+)\s*,\s*"([^"]*)"\s*\)\s*\)')
_IN_FILTER_RE = re.compile(
    r'(?i)FILTER\s*\(\s*\?(\w+)\s+(NOT\s+)?IN\s*\(([^()]*)\)\s*\)')
_OPTIONAL_RE = re.compile(r"(?is)OPTIONAL\s*\{([^{}]*)\}")
_VALUES_RE = re.compile(r"(?is)VALUES\s+\?(\w+)\s*\{([^{}]*)\}")
_VALUES_MULTI_RE = re.compile(
    r"(?is)VALUES\s*\(\s*((?:\?\w+\s*)+)\)\s*\{\s*((?:\([^()]*\)\s*)+)\}")
_UNION_CHAIN_RE = re.compile(r"(?is)\{[^{}]*\}(?:\s*UNION\s*\{[^{}]*\})+")
_BRACE_RE = re.compile(r"\{([^{}]*)\}")
_ORDER_RE = re.compile(r"(?i)(?:(ASC|DESC)\s*\(\s*\?(\w+)\s*\)|\?(\w+))")
_GROUP_EXPR_RE = re.compile(
    r"(?is)\(\s*((?:[^()]|\([^()]*\))*?)\s+AS\s+\?(\w+)\s*\)")

CATEGORY_PRED = "biolink:category"


class SparqlError(ValueError):
    pass


def _parse_expr(s: str):
    """BIND expression -> nested AST tuples: ("var", name) | ("lit", text)
    | (FUNC, [arg asts]). Args split on top-level commas only (quotes and
    nested calls respected)."""
    s = s.strip()
    # top-level comparison (the IF() condition form): split on the first
    # comparison operator outside quotes/parens
    depth0, inq0 = 0, False
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == '"':
            inq0 = not inq0
        elif not inq0 and ch == "(":
            depth0 += 1
        elif not inq0 and ch == ")":
            depth0 -= 1
        elif not inq0 and depth0 == 0:
            for op in ("!=", ">=", "<=", "=", ">", "<"):
                if s.startswith(op, i):
                    return ("cmp", op, _parse_expr(s[:i]),
                            _parse_expr(s[i + len(op):]))
        i += 1
    if s.startswith("?"):
        m = re.fullmatch(r"\?(\w+)", s)
        if not m:
            raise SparqlError(f"bad variable in BIND expression: {s!r}")
        return ("var", m.group(1))
    if s.startswith('"'):
        if not (s.endswith('"') and len(s) >= 2 and '"' not in s[1:-1]):
            raise SparqlError(f"bad literal in BIND expression: {s!r}")
        return ("lit", s[1:-1])
    if re.fullmatch(r"-?\d+", s):
        # xsd:integer literal (SUBSTR positions/lengths, IF branches)
        return ("num", int(s))
    m = re.fullmatch(r"(?s)(\w+)\s*\((.*)\)", s)
    if not m:
        raise SparqlError(f"unsupported BIND expression: {s!r}")
    name, body = m.group(1).upper(), m.group(2)
    args, depth, cur, inq = [], 0, "", False
    for ch in body:
        if ch == '"':
            inq = not inq
        if not inq:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                args.append(cur)
                cur = ""
                continue
        cur += ch
    if cur.strip() or args:
        args.append(cur)
    return (name, [_parse_expr(a) for a in args])


def _compile_expr(ast, bound: dict[str, str]):
    """AST -> Column over the joined solution (SPARQL string functions on
    the engine's string-typed RDF terms; all pure Catalyst)."""
    kind = ast[0]
    if kind == "var":
        v = ast[1]
        if v not in bound:
            raise SparqlError(f"BIND references unbound variable ?{v}")
        return F.col(bound[v])
    if kind == "lit":
        return F.lit(ast[1])
    if kind == "num":
        return F.lit(ast[1])
    if kind == "cmp":
        _, op, left, right = ast
        lc, rc = _compile_expr(left, bound), _compile_expr(right, bound)
        # codepoint comparison on string-typed RDF terms — the same
        # semantics as quoted-literal FILTER comparisons
        return {"=": lc == rc, "!=": lc != rc, ">": lc > rc,
                "<": lc < rc, ">=": lc >= rc, "<=": lc <= rc}[op]
    name, args = ast
    cols = [_compile_expr(a, bound) for a in args]

    def need(n: int):
        if len(args) != n:
            raise SparqlError(f"{name}() takes {n} argument(s), got {len(args)}")

    if name == "CONCAT":
        if not args:
            raise SparqlError("CONCAT() needs at least one argument")
        return F.concat(*cols)
    if name == "STRLEN":
        need(1)
        return F.length(cols[0]).cast("long")
    if name == "UCASE":
        need(1)
        return F.upper(cols[0])
    if name == "LCASE":
        need(1)
        return F.lower(cols[0])
    if name == "STR":
        need(1)
        return cols[0]
    if name == "SUBSTR":
        # §17.4.3.3: SUBSTR(source, startingLoc[, length]) — 1-based
        # positions (xsd:integer), exactly F.substring's convention
        if len(args) not in (2, 3):
            raise SparqlError("SUBSTR() takes 2 or 3 arguments")
        for a in args[1:]:
            if a[0] != "num":
                raise SparqlError("SUBSTR() positions must be integer "
                                  "literals")
        if len(args) == 2:
            return F.substring(cols[0], args[1][1], 2_147_483_647)
        return F.substring(cols[0], args[1][1], args[2][1])
    if name in ("STRAFTER", "STRBEFORE"):
        need(2)
        if args[1][0] != "lit":
            raise SparqlError(f"{name}() needs a literal second argument")
        needle = args[1][1]
        s = cols[0]
        pos = F.instr(s, needle)
        if name == "STRAFTER":
            # first-occurrence suffix; "" when absent; whole string for ""
            return F.when(
                pos > 0,
                F.substring(s, pos + F.lit(len(needle)), F.length(s)),
            ).otherwise(F.lit(""))
        return F.when(pos > 0, F.substring(s, F.lit(1), pos - 1)).otherwise(
            F.lit("")
        )
    if name == "IF":
        # §17.4.1.2: IF(cond, then, else); the condition must be a
        # comparison (or BOUND()) so the branch choice is an effective
        # boolean value, not a string
        need(3)
        if args[0][0] not in ("cmp",) and args[0][0] != "BOUND":
            raise SparqlError("IF() condition must be a comparison or "
                              "BOUND()")
        return F.when(cols[0], cols[1]).otherwise(cols[2])
    if name == "COALESCE":
        # §17.4.1.3: first bound (non-NULL) argument
        if not args:
            raise SparqlError("COALESCE() needs at least one argument")
        return F.coalesce(*cols)
    if name == "BOUND":
        # §17.4.1.1: true iff the variable is bound (non-NULL here — the
        # OPTIONAL-miss representation)
        need(1)
        if args[0][0] != "var":
            raise SparqlError("BOUND() takes a variable")
        return cols[0].isNotNull()
    raise SparqlError(f"unsupported BIND function: {name}()")


def _split_patterns(raw: str) -> list[tuple[str, str, str]]:
    patterns = []
    for part in re.split(r"\s*\.\s*(?![\w])|\s*\.\s*$", raw.strip()):
        part = part.strip().rstrip(".").strip()
        if not part:
            continue
        terms = part.split()
        if len(terms) != 3:
            raise SparqlError(f"bad triple pattern: {part!r}")
        # a keyword leaking into pattern position means a construct in an
        # unsupported scope (e.g. FILTER/BIND inside a UNION branch) —
        # splitting on whitespace can land such text on exactly 3 tokens,
        # which would compile to an always-empty predicate filter
        if any(t.upper() in ("FILTER", "BIND", "OPTIONAL", "VALUES",
                             "UNION") for t in terms):
            raise SparqlError(
                f"unsupported construct in pattern position: {part!r} "
                "(FILTER/BIND/OPTIONAL/VALUES are not allowed inside "
                "this block)")
        patterns.append(tuple(terms))
    return patterns


def _extract_subqueries(where_raw: str):
    """Pull `{ SELECT ... }` groups out of a WHERE body (spec §12
    subqueries) with a balanced-brace scan — the inner WHERE has its own
    braces, which the flat block regexes must never see. Returns (body
    text with subqueries blanked, [subquery text ...])."""
    out, subs, i, n, depth = [], [], 0, len(where_raw), 0
    while i < n:
        ch = where_raw[i]
        if ch == "{" and depth == 0:
            d, j = 1, i + 1
            while j < n and d:
                if where_raw[j] == "{":
                    d += 1
                elif where_raw[j] == "}":
                    d -= 1
                j += 1
            if d:
                raise SparqlError("unbalanced braces in WHERE body")
            inner = where_raw[i + 1:j - 1]
            if re.match(r"(?is)\s*SELECT\b", inner):
                subs.append(inner.strip())
                out.append(" ")
                i = j
                continue
            # not a subquery: an ordinary block (OPTIONAL/UNION branch /
            # EXISTS body). Deeper braces are NOT scanned — a subquery
            # inside such a block must not be hoisted to outer scope; it
            # survives in place and the block's own (flat) parser rejects
            # it with a diagnostic.
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth = max(0, depth - 1)
        out.append(ch)
        i += 1
    return "".join(out), subs


def _parse_body(where_raw: str):
    """The WHERE-body constructs shared by SELECT/ASK/CONSTRUCT. Block
    constructs extract first (their inner text must not leak into the
    global filter/bind scans), then global BIND/filters, then the
    required triple patterns. Returns a dict of parsed pieces."""
    where_raw, subqueries = _extract_subqueries(where_raw)
    not_exists = [_split_patterns(block)
                  for block in _NOT_EXISTS_RE.findall(where_raw)]
    where_raw = _NOT_EXISTS_RE.sub(" ", where_raw)
    # EXISTS extracts AFTER NOT EXISTS: _EXISTS_RE requires EXISTS
    # immediately after FILTER, so a surviving "FILTER NOT EXISTS" could
    # never match it anyway — the order just makes that non-overlap
    # structural rather than incidental
    exists = [_split_patterns(block)
              for block in _EXISTS_RE.findall(where_raw)]
    where_raw = _EXISTS_RE.sub(" ", where_raw)
    minus = [_split_patterns(block)
             for block in _MINUS_RE.findall(where_raw)]
    where_raw = _MINUS_RE.sub(" ", where_raw)
    optionals = []
    for block in _OPTIONAL_RE.findall(where_raw):
        # FILTER inside OPTIONAL is part of the LeftJoin condition (spec
        # §6.1): when it references only block-bound variables, applying
        # it to the block's relation BEFORE the left join is equivalent.
        # The harder case — a filter referencing REQUIRED-side variables,
        # which turns into a genuine join-condition filter — is checked
        # at compile time (see sparql_select) and rejected there.
        orx = [(v, pat, flags) for _p, v, pat, flags
               in _REGEX_FILTER_RE.findall(block)]
        for _v, _pat, flags in orx:
            if flags not in ("", "i"):
                raise SparqlError(f"unsupported regex flags: {flags!r}")
        block = _REGEX_FILTER_RE.sub(" ", block)
        ofl = [(v, op, val[1:-1] if val.startswith('"') else val)
               for v, op, val in _FILTER_RE.findall(block)]
        block = _FILTER_RE.sub(" ", block)
        if re.search(r"(?i)FILTER", block):
            raise SparqlError(
                "unsupported FILTER form inside OPTIONAL (only "
                "equality/inequality and regex() filters are compiled)")
        optionals.append((_split_patterns(block), ofl, orx))
    where_raw = _OPTIONAL_RE.sub(" ", where_raw)
    # multi-variable VALUES ( ?a ?b ) { ("x" "y") ... } extracts BEFORE
    # the single-var form (whose regex requires '?' right after VALUES,
    # so it can never half-match this shape) — an inline solution table
    # joined on every listed variable
    values_multi: list[tuple[list[str], list[tuple[str, ...]]]] = []
    for vars_raw, rows_raw in _VALUES_MULTI_RE.findall(where_raw):
        mvars = _VAR_RE.findall(vars_raw)
        rows: list[tuple[str, ...]] = []
        for row_raw in re.findall(r"\(([^()]*)\)", rows_raw):
            toks = row_raw.split()
            if len(toks) != len(mvars):
                raise SparqlError(
                    f"VALUES row ({row_raw.strip()}) has {len(toks)} "
                    f"entries for {len(mvars)} variables")
            # UNDEF -> None: the spec's partial binding; against
            # pattern-bound (non-NULL) variables, compatibility with an
            # unbound value is always true, so the conjunct is skipped
            rows.append(tuple(
                None if t.upper() == "UNDEF"
                else (t[1:-1] if t.startswith('"') else t)
                for t in toks))
        if not rows:
            raise SparqlError("empty VALUES block")
        if len(rows) != len(set(rows)):
            raise SparqlError(
                "duplicate rows in VALUES are unsupported (the SPARQL "
                "bag-join multiplicity differs from a filter)")
        values_multi.append((mvars, rows))
    where_raw = _VALUES_MULTI_RE.sub(" ", where_raw)
    values: list[tuple[str, list[str]]] = []
    for var, block in _VALUES_RE.findall(where_raw):
        vals = [v[1:-1] if v.startswith('"') else v for v in block.split()]
        if not vals:
            raise SparqlError(f"empty VALUES block for ?{var}")
        if len(vals) != len(set(vals)):
            raise SparqlError(
                f"duplicate entries in VALUES ?{var} are unsupported (the "
                "SPARQL bag-join multiplicity differs from an IN filter)")
        values.append((var, vals))
    where_raw = _VALUES_RE.sub(" ", where_raw)
    unions: list[list[list[tuple[str, str, str]]]] = []
    for chain in _UNION_CHAIN_RE.findall(where_raw):
        unions.append([_split_patterns(b) for b in _BRACE_RE.findall(chain)])
    where_raw = _UNION_CHAIN_RE.sub(" ", where_raw)
    # BIND and the global (post-join) filters extract only AFTER every
    # block construct (OPTIONAL, VALUES, UNION) has been consumed: a
    # BIND / FILTER regex written INSIDE a union branch must stay in the
    # branch text and fail _split_patterns there (reject, like equality
    # FILTERs in the same position) rather than be silently hoisted to
    # global post-join scope and applied to all branches
    binds = [(_parse_expr(expr), var)
             for expr, var in _BIND_RE.findall(where_raw)]
    where_raw = _BIND_RE.sub(" ", where_raw)
    rx_filters = [(v, pat, flags)
                  for _paren, v, pat, flags in _REGEX_FILTER_RE.findall(where_raw)]
    for _v, _pat, flags in rx_filters:
        if flags not in ("", "i"):
            raise SparqlError(f"unsupported regex flags: {flags!r}")
    where_raw = _REGEX_FILTER_RE.sub(" ", where_raw)
    # FILTER(STRSTARTS/STRENDS/CONTAINS(?v, "lit")) — SPARQL §17.4.3
    # string tests; consumed before the comparison form (no overlap, but
    # the explicit order keeps the grammar reading top-down)
    str_filters = [(fn.upper(), v, lit) for fn, v, lit
                   in _STRFUNC_FILTER_RE.findall(where_raw)]
    where_raw = _STRFUNC_FILTER_RE.sub(" ", where_raw)
    # FILTER(?v [NOT] IN ("a", "b", ...)) — §17.4.1.9/.10; members are
    # quoted literals or bare tokens, comma-separated
    in_filters = []
    for v, neg, body_ in _IN_FILTER_RE.findall(where_raw):
        vals = [x.strip()[1:-1] if x.strip().startswith('"') else x.strip()
                for x in body_.split(",") if x.strip()]
        if not vals:
            raise SparqlError(f"empty IN list for ?{v}")
        in_filters.append((v, bool(neg), vals))
    where_raw = _IN_FILTER_RE.sub(" ", where_raw)
    filters = [(v, op, val[1:-1] if val.startswith('"') else val)
               for v, op, val in _FILTER_RE.findall(where_raw)]
    where_raw = _FILTER_RE.sub(" ", where_raw)
    patterns = _split_patterns(where_raw)
    return {
        "patterns": patterns, "filters": filters, "optionals": optionals,
        "unions": unions, "values": values, "values_multi": values_multi,
        "not_exists": not_exists,
        "exists": exists, "minus": minus, "binds": binds,
        "rx_filters": rx_filters, "subqueries": subqueries,
        "str_filters": str_filters, "in_filters": in_filters,
    }


def _parse(query: str):
    m = _SELECT_RE.match(query)
    if not m:
        raise SparqlError(f"unsupported SPARQL shape: {query!r}")
    (distinct_raw, select_raw, where_raw, group_raw, having_raw, order_raw,
     limit_raw, offset_raw) = m.groups()
    aggs = [(func.upper(), bool(dist), v, alias)
            for func, dist, v, alias in _AGG_RE.findall(select_raw)]
    for func, dist, _v, _a in aggs:
        if dist and func in ("MIN", "MAX", "SAMPLE"):
            raise SparqlError(
                f"DISTINCT inside {func}() is a no-op in SPARQL; write "
                f"{func}(?var)")
        if dist and func in ("SUM", "AVG"):
            raise SparqlError(
                f"{func}(DISTINCT ?v) is unsupported (set-semantics "
                "numeric aggregation; pre-deduplicate instead)")
    if re.search(r"(?i)GROUP_CONCAT\s*\(\s*DISTINCT\b", select_raw):
        raise SparqlError(
            "GROUP_CONCAT(DISTINCT ?v) is unsupported; pre-deduplicate or "
            "use GROUP_CONCAT(?v)")
    # GROUP_CONCAT rides the agg list with the separator in the slot the
    # other apply functions use for DISTINCT (type-distinguished downstream)
    aggs += [("GROUP_CONCAT", sep[1:-1] if sep else " ", v, alias)
             for v, sep, alias in _GROUP_CONCAT_RE.findall(select_raw)]
    # COUNT(*) counts SOLUTIONS (spec §11.4.3.1) — no variable argument;
    # encoded with var=None and special-cased at aggregation time
    aggs += [("COUNT_STAR", False, None, alias)
             for alias in _COUNT_STAR_RE.findall(select_raw)]
    plain = _VAR_RE.findall(
        _COUNT_STAR_RE.sub(" ", _GROUP_CONCAT_RE.sub(
            " ", _AGG_RE.sub(" ", select_raw))))
    # GROUP BY (expr AS ?var) — spec §10: a group key may be any
    # expression with a fresh alias. Desugar to an implicit trailing
    # BIND (same evaluation semantics: keys bind over the joined
    # solution before grouping) and group on the alias.
    if group_raw:
        for expr, var in _GROUP_EXPR_RE.findall(group_raw):
            where_raw += f" BIND({expr} AS ?{var})"
        group_raw = _GROUP_EXPR_RE.sub(lambda m: " ?" + m.group(2) + " ",
                                       group_raw)
    body = _parse_body(where_raw)
    group = _VAR_RE.findall(group_raw) if group_raw else []
    having = []
    if having_raw:
        hm = _HAVING_RE.match(having_raw)
        if not hm:
            raise SparqlError(
                f"unsupported HAVING expression: {having_raw!r} (supported "
                "form: AGG(?var) cmp value)")
        hf, hv, hop, hval = hm.groups()
        having.append((hf.upper(), hv, hop,
                       hval[1:-1] if hval.startswith('"') else hval))
    order = [(d.upper() if d else "ASC", v1 or v2)
             for d, v1, v2 in _ORDER_RE.findall(order_raw)] if order_raw else []
    limit = int(limit_raw) if limit_raw else None
    offset = int(offset_raw) if offset_raw else None
    if offset is not None and not order:
        raise SparqlError(
            "OFFSET without ORDER BY is nondeterministic (SPARQL leaves "
            "the solution sequence unspecified); add ORDER BY")
    return (aggs, plain, group, having, bool(distinct_raw), order, limit,
            offset, body)


def _filter_cond(col, op: str, val: str, bound: dict[str, str] | None = None):
    """FILTER comparison over string-typed RDF terms: = / != compare the
    lexical form; ordering comparisons (> < >= <=) compare NUMERICALLY
    when the literal parses as a number — a term whose lexical form is
    not numeric casts to NULL and the row is eliminated, exactly SPARQL's
    type-error semantics (§17.2) — and by codepoint order otherwise.
    A `?var` right-hand side compares two bound terms directly (a quoted
    literal that ITSELF starts with '?' is indistinguishable after quote
    stripping and is unsupported)."""
    if isinstance(val, str) and val.startswith("?"):
        m = re.fullmatch(r"\?(\w+)", val)
        if not m or bound is None or m.group(1) not in bound:
            raise SparqlError(
                f"FILTER references unbound or malformed variable {val!r}")
        rhs = F.col(bound[m.group(1)])
        return {"=": col == rhs, "!=": col != rhs, ">": col > rhs,
                "<": col < rhs, ">=": col >= rhs, "<=": col <= rhs}[op]
    if op == "=":
        return col == val
    if op == "!=":
        return col != val
    v: float | str
    try:
        v = float(val)
        # try_cast: a non-numeric lexical form becomes NULL and the row
        # is eliminated (ANSI cast would error the whole query instead)
        col = col.try_cast("double")
    except ValueError:
        v = val
    return {">": col > v, "<": col < v,
            ">=": col >= v, "<=": col <= v}[op]


def _term_col(df: DataFrame, col: str, term: str, binds: dict[str, list]):
    """Bind one pattern position: variable -> rename map entry,
    literal -> filter."""
    if term.startswith("?"):
        binds.setdefault(term[1:], []).append(col)
        return df
    # a quoted literal compares by its lexical form (the quotes are
    # syntax, not data — a retained quote could never match an RDF term)
    if term.startswith('"') and term.endswith('"') and len(term) >= 2:
        term = term[1:-1]
    return df.where(F.col(col) == term)


def _edges_po(edges: DataFrame, pred: str) -> DataFrame:
    """Edge pairs (s, o) for one concrete predicate — a path step."""
    if pred == CATEGORY_PRED:
        raise SparqlError(
            "property paths over biolink:category are unsupported (it is "
            "a node property in KGX, not an edge)")
    if not pred or pred.startswith("?"):
        raise SparqlError(f"path steps must be concrete predicates: {pred!r}")
    return edges.where(F.col("predicate") == pred).select(
        F.col("subject").alias("s"), F.col("object").alias("o"))


def _closure(po: DataFrame, max_rounds: int = 64) -> DataFrame:
    """OneOrMorePath: transitive closure by semi-naive iteration.

    Round k joins only the frontier (pairs first discovered in round k-1)
    to the base edges and anti-joins the closure so far, so per-round work
    tracks the delta, not the full closure (Datalog semi-naive rule).
    Each delta is localCheckpoint'ed, not just persisted: delta_k's plan
    references both delta_{k-1} (frontier) and the closure so far (anti
    join), so without plan truncation the logical tree doubles per round
    and Catalyst analysis dominates; the checkpoint cuts each round to a
    leaf. At cluster scale each round is one shuffle-join on the midpoint
    key and AQE sizes the reducers per round."""
    base = po.distinct().localCheckpoint()
    closure = base
    frontier = base
    for _ in range(max_rounds):
        step = frontier.select(F.col("s"), F.col("o").alias("_m")).join(
            base.select(F.col("s").alias("_m"), F.col("o")), "_m"
        ).select("s", "o").distinct()
        delta = step.join(closure, ["s", "o"], "left_anti").localCheckpoint()
        if delta.isEmpty():
            return closure
        closure = closure.unionByName(delta).persist()
        frontier = delta
    raise SparqlError(f"path closure did not converge in {max_rounds} rounds")


def _graph_terms(nodes: DataFrame | None, edges: DataFrame) -> DataFrame:
    """All RDF terms of the graph (zero-length-path universe, spec §9.3):
    edge subjects + edge objects + node ids."""
    t = edges.select(F.col("subject").alias("t")).union(
        edges.select(F.col("object").alias("t")))
    if nodes is not None:
        t = t.union(nodes.select(F.col("id").alias("t")))
    return t.distinct()


def _compile_path(nodes: DataFrame | None, edges: DataFrame, path: str,
                  i: int) -> DataFrame:
    """`p1/p2/...` with optional `+`/`*`/`?` per step -> (_s{i}, _o{i})."""
    rel = None
    for step in path.split("/"):
        inverse = step.startswith("^")
        if inverse:
            step = step[1:]
        mod = step[-1] if step and step[-1] in "+*?" else ""
        pred = step[:-1] if mod else step
        neg = pred.startswith("!")
        if neg:
            pred = pred[1:]
        if ("(" in pred or ")" in pred) and not (
                pred.startswith("(") and pred.endswith(")")
                and "(" not in pred[1:-1] and ")" not in pred[1:-1]):
            # a '/' inside a group (e.g. `(a/b|c)`) is mangled by the
            # sequence split above into unbalanced fragments — reject with
            # a real diagnostic instead of compiling an always-empty
            # filter on a predicate literally named "(a" (ADVICE r3)
            raise SparqlError(
                f"unsupported path step {step!r}: sequences inside "
                "alternation groups are not supported")
        if neg:
            # NegatedPropertySet `!p` / `!(p1|p2|...)` (spec §9.1
            # PathNegatedPropertySet, forward-only subset): edge pairs
            # whose predicate is NOT in the set. Like variable-predicate
            # patterns, the universe is the materialized EDGE predicates;
            # the virtual biolink:category node relation is excluded
            # (KGX keeps category on the node table). `^` inside the set
            # (reverse-direction exclusions) is not supported — invert
            # the whole step instead (`^!(p)`).
            body = pred[1:-1] if pred.startswith("(") and pred.endswith(")") \
                else pred
            items = [a.strip() for a in body.split("|") if a.strip()]
            if not items:
                raise SparqlError(f"empty negated property set: !{pred!r}")
            for it in items:
                if any(ch in it for ch in "/+*?()^!") or it.startswith("?"):
                    raise SparqlError(
                        f"unsupported negated-property-set item {it!r}:"
                        " items must be forward concrete predicates")
            po = edges.where(~F.col("predicate").isin(items)).select(
                F.col("subject").alias("s"), F.col("object").alias("o"))
        elif pred.startswith("(") and pred.endswith(")"):
            # AlternativePath `(a|b|c)` (spec §9.1): bag union of the
            # branch relations — plain unionByName, no distinct, matching
            # SPARQL's multiset-union semantics (a closure modifier on the
            # group re-distincts anyway, per arbitrary-length-path rules)
            alts = [a.strip() for a in pred[1:-1].split("|") if a.strip()]
            if not alts:
                raise SparqlError(f"empty path alternation: {pred!r}")
            po = None
            for alt in alts:
                alt_inv = alt.startswith("^")
                body = alt[1:] if alt_inv else alt
                # grammar: alt := ['^']CURIE — a closure modifier
                # (`(a+|b)`) or nested sequence/group (`(a/b|c)`) inside a
                # branch would otherwise be treated as a literal predicate
                # name and compile to an always-empty filter (ADVICE r3)
                if not body or any(ch in body for ch in "/+*?()^"):
                    raise SparqlError(
                        f"unsupported alternation branch {alt!r} in {pred!r}:"
                        " branches must be ['^']CURIE (no sequences,"
                        " closures, or nested groups)")
                branch = _edges_po(edges, body)
                if alt_inv:
                    branch = branch.select(F.col("o").alias("s"),
                                           F.col("s").alias("o"))
                po = branch if po is None else po.unionByName(branch)
        else:
            po = _edges_po(edges, pred)
        if inverse:
            po = po.select(F.col("o").alias("s"), F.col("s").alias("o"))
        if mod == "+":
            po = _closure(po)
        elif mod in ("*", "?"):
            ident = _graph_terms(nodes, edges).select(
                F.col("t").alias("s"), F.col("t").alias("o"))
            reach = _closure(po) if mod == "*" else po
            po = reach.unionByName(ident).distinct()
        if rel is None:
            rel = po
        else:
            rel = rel.select("s", F.col("o").alias("_m")).join(
                po.select(F.col("s").alias("_m"), F.col("o")), "_m"
            ).select("s", "o")
    return rel.select(F.col("s").alias(f"_s{i}"), F.col("o").alias(f"_o{i}"))


def _compile_pattern(nodes: DataFrame, edges: DataFrame, i: int,
                     pattern: tuple[str, str, str]):
    """One triple pattern -> (relation with _s{i}/_p{i}/_o{i} columns,
    {var: first bound column})."""
    s, p, o = pattern
    if not p.startswith("?") and ("/" in p or p.startswith(("^", "(", "!"))
                                  or p[-1] in "+*?"):
        rel = _compile_path(nodes, edges, p, i)
        binds: dict[str, list] = {}
        rel = _term_col(rel, f"_s{i}", s, binds)
        rel = _term_col(rel, f"_o{i}", o, binds)
        for _v, cols in binds.items():
            for extra in cols[1:]:
                rel = rel.where(F.col(cols[0]) == F.col(extra))
        return rel, {v: cols[0] for v, cols in binds.items()}
    if not p.startswith("?") and p == CATEGORY_PRED:
        rel = nodes.select(F.col("id").alias(f"_s{i}"),
                           F.col("category").alias(f"_o{i}"))
    else:
        rel = edges.select(F.col("subject").alias(f"_s{i}"),
                           F.col("predicate").alias(f"_p{i}"),
                           F.col("object").alias(f"_o{i}"))
        if not p.startswith("?"):
            rel = rel.where(F.col(f"_p{i}") == p)
    binds: dict[str, list] = {}
    rel = _term_col(rel, f"_s{i}", s, binds)
    if p.startswith("?"):
        binds.setdefault(p[1:], []).append(f"_p{i}")
    rel = _term_col(rel, f"_o{i}", o, binds)
    # a variable repeated WITHIN one pattern (e.g. `?x ?p ?x`) is an
    # equality constraint between its positions, not a free rename —
    # filter on all extra bound columns (ADVICE r2)
    for _v, cols in binds.items():
        for extra in cols[1:]:
            rel = rel.where(F.col(cols[0]) == F.col(extra))
    return rel, {v: cols[0] for v, cols in binds.items()}


def _shared_cond(bound: dict[str, str], cols: dict[str, str]):
    shared = [(bound[v], c) for v, c in cols.items() if v in bound]
    cond = None
    for a, b in shared:
        piece = F.col(a) == F.col(b)
        cond = piece if cond is None else (cond & piece)
    return cond


def _compile_group(nodes: DataFrame, edges: DataFrame, idx: int,
                   patterns: list[tuple[str, str, str]]):
    """Conjunctive-join a pattern group (an OPTIONAL block or one UNION
    branch) -> (relation, {var: column}, next free pattern index)."""
    grp = None
    grp_bound: dict[str, str] = {}
    for pattern in patterns:
        rel, cols = _compile_pattern(nodes, edges, idx, pattern)
        idx += 1
        if grp is None:
            grp, grp_bound = rel, dict(cols)
        else:
            cond = _shared_cond(grp_bound, cols)
            grp = grp.join(rel, cond) if cond is not None \
                else grp.crossJoin(rel)
            for v, c in cols.items():
                grp_bound.setdefault(v, c)
    return grp, grp_bound, idx


def _compile_body(nodes: DataFrame, edges: DataFrame, body: dict):
    """Compile a parsed WHERE body to (solution DataFrame, {var: column}).
    Shared by sparql_select / sparql_ask / sparql_construct."""
    patterns = body["patterns"]
    filters = body["filters"]
    optionals = body["optionals"]
    unions = body["unions"]
    values = body["values"]
    not_exists = body["not_exists"]
    exists = body["exists"]
    minus = body["minus"]
    binds = body["binds"]
    rx_filters = body["rx_filters"]
    values_multi = body.get("values_multi", [])
    subqueries = body.get("subqueries", [])
    str_filters = body.get("str_filters", [])
    in_filters = body.get("in_filters", [])
    if not patterns and not unions and not subqueries:
        raise SparqlError("empty WHERE clause")

    rels: list[DataFrame] = []
    var_cols: list[dict[str, str]] = []
    for i, pattern in enumerate(patterns):
        rel, cols = _compile_pattern(nodes, edges, i, pattern)
        rels.append(rel)
        var_cols.append(cols)
    idx = len(rels)

    # UNION chains: each branch compiles to its own conjunctive join,
    # branches align on variable NAME (missing vars -> NULL columns) and
    # union bag-style; the result joins the required part like a pattern
    for gi, branches in enumerate(unions):
        prior_vars = set().union(*[set(vc) for vc in var_cols]) \
            if var_cols else set()
        branch_dfs = []
        branch_sets: list[set[str]] = []
        branch_vars: set[str] = set()
        for branch in branches:
            grp, grp_bound, idx = _compile_group(nodes, edges, idx, branch)
            branch_dfs.append(grp.select(
                *[F.col(c).alias(f"_u{gi}_{v}") for v, c in grp_bound.items()]
            ))
            branch_sets.append(set(grp_bound))
            branch_vars.update(grp_bound)
        # a variable shared with the outer join must be bound by EVERY
        # branch: an unbound SPARQL variable is join-compatible with any
        # value, but a NULL column equality would silently drop rows —
        # reject rather than reinterpret
        partial = sorted(v for v in (branch_vars & prior_vars)
                         if any(v not in bs for bs in branch_sets))
        if partial:
            raise SparqlError(
                f"UNION branches bind join variables {partial} only "
                "partially (unbound-is-compatible semantics unsupported)")
        u = branch_dfs[0]
        for b in branch_dfs[1:]:
            u = u.unionByName(b, allowMissingColumns=True)
        rels.append(u)
        var_cols.append({v: f"_u{gi}_{v}" for v in branch_vars})

    # subqueries (spec §12): evaluate bottom-up via recursion — the
    # result exposes exactly its projected variables/aliases and joins
    # the outer solution like any other relation (cross product when no
    # variable is shared, e.g. a global-aggregate subquery; aggregate
    # subquery results are aggregate-sized, so that product is the cheap
    # broadcast case at scale)
    for qi, subq in enumerate(subqueries):
        sq = _select_impl(subq, nodes, edges)
        rels.append(sq.select(
            *[F.col(v).alias(f"_q{qi}_{v}") for v in sq.columns]))
        var_cols.append({v: f"_q{qi}_{v}" for v in sq.columns})

    # join required patterns (and union/subquery blocks) on shared
    # variables, left to right
    out = rels[0]
    bound: dict[str, str] = dict(var_cols[0])
    for i in range(1, len(rels)):
        cond = _shared_cond(bound, var_cols[i])
        out = out.join(rels[i], cond) if cond is not None \
            else out.crossJoin(rels[i])
        for v, c in var_cols[i].items():
            bound.setdefault(v, c)

    # OPTIONAL groups: inner-join the group's own patterns, apply the
    # block's own FILTERs to the group relation (LeftJoin-condition
    # scoping, spec §6.1 — legal because they reference only block-bound
    # variables), then LEFT OUTER join to the required part
    for gi, (opt_patterns, ofilters, orx) in enumerate(optionals):
        grp, grp_bound, idx = _compile_group(nodes, edges, idx, opt_patterns)
        for v, op, val in ofilters:
            if v not in grp_bound:
                raise SparqlError(
                    f"FILTER inside OPTIONAL group {gi} references ?{v}, "
                    "which is not bound in that block (join-condition "
                    "filters on required-side variables are unsupported)")
            grp = grp.where(_filter_cond(F.col(grp_bound[v]), op, val,
                                         grp_bound))
        for v, pat, flags in orx:
            if v not in grp_bound:
                raise SparqlError(
                    f"FILTER regex inside OPTIONAL group {gi} references "
                    f"?{v}, which is not bound in that block")
            grp = grp.where(F.col(grp_bound[v]).rlike(
                f"(?{flags}){pat}" if flags else pat))
        cond = _shared_cond(bound, grp_bound)
        if cond is None:
            raise SparqlError(
                f"OPTIONAL group {gi} shares no variable with the required "
                "patterns (left cross product unsupported)")
        out = out.join(grp, cond, "left")
        for v, c in grp_bound.items():
            bound.setdefault(v, c)

    # FILTER NOT EXISTS groups: inner-join the group's own patterns, then
    # LEFT ANTI join the required solution against it on shared variables
    # — rows with a compatible inner solution are removed (spec §8.1.1)
    for gi, ne_patterns in enumerate(not_exists):
        grp, grp_bound, idx = _compile_group(nodes, edges, idx, ne_patterns)
        cond = _shared_cond(bound, grp_bound)
        if cond is None:
            raise SparqlError(
                f"FILTER NOT EXISTS group {gi} shares no variable with the "
                "required patterns (emptiness test unsupported)")
        out = out.join(grp, cond, "left_anti")

    # FILTER EXISTS — the dual: LEFT SEMI join keeps rows that DO have a
    # compatible inner solution (spec §8.1.1)
    for gi, ex_patterns in enumerate(exists):
        grp, grp_bound, idx = _compile_group(nodes, edges, idx, ex_patterns)
        cond = _shared_cond(bound, grp_bound)
        if cond is None:
            raise SparqlError(
                f"FILTER EXISTS group {gi} shares no variable with the "
                "required patterns (non-emptiness test unsupported)")
        out = out.join(grp, cond, "left_semi")

    # MINUS (spec §8.3): remove solutions with a compatible inner solution
    # SHARING at least one variable. With no shared variable dom(μ1) ∩
    # dom(μ2) = ∅ and no inner solution is "compatible-and-overlapping",
    # so MINUS removes nothing — a faithful no-op, NOT an error (this is
    # the spec's own EXISTS-vs-MINUS divergence case, §8.3.3)
    for gi, mn_patterns in enumerate(minus):
        grp, grp_bound, idx = _compile_group(nodes, edges, idx, mn_patterns)
        cond = _shared_cond(bound, grp_bound)
        if cond is not None:
            out = out.join(grp, cond, "left_anti")

    # BIND: evaluate over the joined solution, then the new variable is a
    # first-class binding (projectable, filterable, groupable); binds
    # apply in written order so a later BIND may reference an earlier one
    for bi, (expr_ast, newvar) in enumerate(binds):
        if newvar in bound:
            raise SparqlError(f"BIND would rebind already-bound ?{newvar}")
        out = out.withColumn(f"_b{bi}_{newvar}", _compile_expr(expr_ast, bound))
        bound[newvar] = f"_b{bi}_{newvar}"

    # ORDER BY vars are checked against the PROJECTED columns below (they
    # may name an aggregate alias, which is never pattern-bound)
    missing = [v for v in [v for v, _, _ in filters]
               + [v for v, _ in values] + [v for v, _, _ in rx_filters]
               + [v for _, v, _ in str_filters]
               + [v for v, _, _ in in_filters]
               + [v for mvars, _ in values_multi for v in mvars]
               if v not in bound]
    if missing:
        raise SparqlError(f"unbound variables: {missing}")

    # FILTER(?v = literal / != literal) — plain post-join predicates;
    # Catalyst pushes them below the joins where legal
    for v, op, val in filters:
        out = out.where(_filter_cond(F.col(bound[v]), op, val, bound))

    # VALUES ?v { ... } on a pattern-bound variable == IN-list join
    for v, vals in values:
        out = out.where(F.col(bound[v]).isin(vals))

    # VALUES ( ?a ?b ) { ("x" "y") ... } — an inline solution table on
    # pattern-bound variables compiles to a disjunction of per-row
    # conjunctions (the table is query-text-sized, so the OR chain stays
    # a pushable Catalyst predicate rather than a join against a
    # driver-created DataFrame)
    for mvars, rows in values_multi:
        row_conds = []
        for row in rows:
            c = F.lit(True)
            for v, val in zip(mvars, row):
                if val is None:      # UNDEF: matches any binding
                    continue
                c = c & (F.col(bound[v]) == F.lit(val))
            row_conds.append(c)
        cond = row_conds[0]
        for rc in row_conds[1:]:
            cond = cond | rc
        out = out.where(cond)

    # FILTER regex(?v, "re"[, "i"]) — RE2-safe rlike, post-join (Catalyst
    # pushes it down where legal)
    for v, pat, flags in rx_filters:
        out = out.where(F.col(bound[v]).rlike(f"(?{flags}){pat}" if flags
                                              else pat))

    # FILTER(STRSTARTS/STRENDS/CONTAINS(?v, "lit")) — plain pushable
    # string predicates (§17.4.3); literal-argument form only
    for fn, v, lit in str_filters:
        c = F.col(bound[v])
        cond = {"STRSTARTS": c.startswith(lit), "STRENDS": c.endswith(lit),
                "CONTAINS": c.contains(lit)}[fn]
        out = out.where(cond)

    # FILTER(?v [NOT] IN (...)) — §17.4.1.9/.10; pattern-bound variables
    # are never NULL here, so NOT IN is plain negation
    for v, neg, vals in in_filters:
        cond = F.col(bound[v]).isin(vals)
        out = out.where(~cond if neg else cond)
    return out, bound


def _agg_col(func: str, dist, c: str | None, alias: str):
    """One SPARQL aggregate -> Column. `dist` carries DISTINCT for COUNT
    and the separator string for GROUP_CONCAT (type-distinguished);
    `c` is None only for COUNT_STAR."""
    if func == "COUNT_STAR":
        return F.count(F.lit(1)).cast("long").alias(alias)
    if func == "COUNT":
        e = F.countDistinct(c) if dist else F.count(c)
        return e.cast("long").alias(alias)
    if func == "GROUP_CONCAT":
        # values sorted first so the implementation-defined SPARQL order
        # is deterministic (and DuckDB-recomputable)
        return F.array_join(F.array_sort(F.collect_list(c)), dist).alias(alias)
    if func in ("SUM", "AVG"):
        # numeric semantics over string-typed lexical forms: cast-to-
        # double; non-numeric forms -> NULL, skipped (documented divergence
        # from strict SPARQL type errors)
        e = F.col(c).try_cast("double")
        return (F.sum(e) if func == "SUM" else F.avg(e)).alias(alias)
    if func == "SAMPLE":
        # SAMPLE is implementation-defined (spec §11.4.9 — "an arbitrary
        # value from the group"); this implementation picks MIN so the
        # result is deterministic and oracle-recomputable
        return F.min(c).alias(alias)
    return (F.min(c) if func == "MIN" else F.max(c)).alias(alias)


def _cmp(col, op: str, val: str):
    """HAVING comparison: numeric literal -> double compare; quoted
    literal (already unquoted upstream) -> codepoint string compare."""
    try:
        v = float(val)
        col = col.cast("double")
    except ValueError:
        v = val
    return {"=": col == v, "!=": col != v, ">": col > v, "<": col < v,
            ">=": col >= v, "<=": col <= v}[op]


def sparql_select(
    spark: SparkSession,
    query: str,
    nodes: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """Compile + run a (restricted) SPARQL SELECT over the KG tables."""
    return _select_impl(query, nodes, edges)


def _select_impl(query: str, nodes: DataFrame,
                 edges: DataFrame) -> DataFrame:
    """SELECT compiler body — separate from sparql_select so subquery
    compilation can recurse without a SparkSession handle (the session is
    never consulted; plans build purely from the nodes/edges frames)."""
    (aggs, plain, group, having, distinct, order, limit, offset,
     body) = _parse(query)
    out, bound = _compile_body(nodes, edges, body)

    missing = [v for v in plain
               + [a for _, _, a, _ in aggs if a is not None] + group
               + [v for _, v, _, _ in having]
               if v not in bound]
    if missing:
        raise SparqlError(f"unbound variables: {missing}")

    if aggs or having:
        keys = group or plain
        agg_exprs = [_agg_col(func, dist,
                              bound[v] if v is not None else None, alias)
                     for func, dist, v, alias in aggs]
        # HAVING aggregates compute as hidden columns — they need not
        # appear in the SELECT list (spec §11.1 evaluation order)
        agg_exprs += [_agg_col(hf, False, bound[hv], f"_h{hi}")
                      for hi, (hf, hv, _op, _val) in enumerate(having)]
        out = out.groupBy(*[F.col(bound[v]).alias(v) for v in keys]).agg(
            *agg_exprs
        )
        for hi, (_hf, _hv, hop, hval) in enumerate(having):
            out = out.where(_cmp(F.col(f"_h{hi}"), hop, hval))
        # SELECT order: aggregates and plain vars as written
        out = out.select(*([alias for *_, alias in aggs] + list(plain)))
    else:
        out = out.select(*[F.col(bound[v]).alias(v) for v in plain])
        if distinct:
            out = out.distinct()
    if order:
        exposed = set(out.columns)
        bad = [v for _, v in order if v not in exposed]
        if bad:
            raise SparqlError(f"ORDER BY on unprojected variables: {bad}")
        out = out.orderBy(*[F.col(v).desc() if d == "DESC" else F.col(v).asc()
                            for d, v in order])
    # SPARQL slice semantics (§15.4-15.5): OFFSET skips first, LIMIT then
    # caps what remains
    if offset is not None:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def sink_bindings(bindings: DataFrame) -> DataFrame:
    """The reference's TSV sink rule (S17, eco-kg query.py:20-36): every
    binding is written as a string and an unbound one as the literal
    'ERROR'."""
    return bindings.select(*[
        F.coalesce(F.col(c).cast("string"), F.lit("ERROR")).alias(c)
        for c in bindings.columns])


def sparql_ask(
    spark: SparkSession,
    query: str,
    nodes: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """ASK { body } -> single-row DataFrame with one boolean `ask` column:
    true iff the body has at least one solution. Evaluated as limit(1) +
    count — Spark stops the scan at the first matching row (LocalLimit
    short-circuit), never materializing the full solution set; the same
    plan shape at 100 TB."""
    m = _ASK_RE.match(query)
    if not m:
        raise SparqlError(f"unsupported ASK shape: {query!r}")
    body = _parse_body(m.group(1))
    out, _bound = _compile_body(nodes, edges, body)
    return out.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))


def sparql_construct(
    spark: SparkSession,
    query: str,
    nodes: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """CONSTRUCT { template } WHERE { body } -> the constructed RDF graph
    as a (subject, predicate, object) DataFrame.

    Each template triple instantiates once per solution (one narrow
    projection each, unioned bag-style); instantiations with an unbound
    (NULL — e.g. OPTIONAL-miss) position are dropped per spec §16.2, and
    the result is distinct because a CONSTRUCT result is an RDF GRAPH (a
    set of triples). Template terms are variables or whitespace-free
    constants (CURIEs / plain literals). At scale this is projections +
    one distinct — a single shuffle on the triple key."""
    m = _CONSTRUCT_RE.match(query)
    if not m:
        raise SparqlError(f"unsupported CONSTRUCT shape: {query!r}")
    template = _split_patterns(m.group(1))
    if not template:
        raise SparqlError("empty CONSTRUCT template")
    body = _parse_body(m.group(2))
    out, bound = _compile_body(nodes, edges, body)

    def term(alias: str, t: str):
        if t.startswith("?"):
            v = t[1:]
            if v not in bound:
                raise SparqlError(
                    f"CONSTRUCT template references unbound variable ?{v}")
            return F.col(bound[v]).alias(alias)
        return F.lit(t[1:-1] if t.startswith('"') else t).alias(alias)

    triples = None
    for s, p, o in template:
        tri = out.select(term("subject", s), term("predicate", p),
                         term("object", o))
        triples = tri if triples is None else triples.unionByName(tri)
    return triples.where(
        F.col("subject").isNotNull() & F.col("predicate").isNotNull()
        & F.col("object").isNotNull()
    ).distinct()


_DESCRIBE_RE = re.compile(
    r"(?is)^\s*DESCRIBE\s+((?:\?\w+\s*)+)WHERE\s*"
    r"\{((?:[^{}]|\{(?:[^{}]|\{[^{}]*\})*\})*)\}\s*$")


def sparql_describe(
    spark: SparkSession,
    query: str,
    nodes: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """DESCRIBE ?x [?y ...] WHERE { body } -> every edge triple whose
    subject OR object is a described resource, plus one
    (id, biolink:category, category) triple per described node — the
    Concise-Bounded-Description-flavored result most endpoints return
    (spec §16.4 leaves the description form implementation-defined;
    this one is the symmetric 1-hop neighborhood over this engine's
    two-table graph).

    Scale shape: the solution set projects to a distinct resource list,
    then two LEFT SEMI joins (edges on subject, edges on object) and one
    on nodes — each a single equi-join the optimizer broadcasts when the
    resource list is small; the union is distinct because the result is
    an RDF graph.
    """
    m = _DESCRIBE_RE.match(query)
    if not m:
        raise SparqlError(f"unsupported DESCRIBE shape: {query!r}")
    dvars = [v[1:] for v in m.group(1).split()]
    body = _parse_body(m.group(2))
    out, bound = _compile_body(nodes, edges, body)
    missing = [v for v in dvars if v not in bound]
    if missing:
        raise SparqlError(f"DESCRIBE references unbound variables: {missing}")
    res = None
    for v in dvars:
        r = out.select(F.col(bound[v]).alias("_r"))
        res = r if res is None else res.unionByName(r)
    res = res.distinct()
    e = edges.select(
        F.col("subject"), F.col("predicate"), F.col("object"))
    by_s = e.join(res, e["subject"] == res["_r"], "left_semi")
    by_o = e.join(res, e["object"] == res["_r"], "left_semi")
    cat = (
        nodes.join(res, nodes["id"] == res["_r"], "left_semi")
        .select(F.col("id").alias("subject"),
                F.lit(CATEGORY_PRED).alias("predicate"),
                F.col("category").alias("object"))
    )
    return by_s.unionByName(by_o).unionByName(cat).distinct()
