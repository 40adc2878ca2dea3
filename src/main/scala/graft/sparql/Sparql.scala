package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.algorithms.{Fixpoint, GraphAlgorithms, LocalGraph}

/**
 * Minimal SPARQL engine over an (s, p, o) triple frame — basic graph
 * patterns as DataFrame equi-joins.
 *
 * The reference DECLARES the `sparql` frontend verb
 * (`src/frontend/JasmineGraphFrontEndProtocol.h:59`, `SPARQL` /
 * `S_QUERY_SEND`) but ships no handler for it anywhere in the tree —
 * declared-only surface, the Intersection precedent — while its RDF
 * side stops at ingest (`src/partitioner/local/RDFPartitioner.*`).
 * Here the verb is EXECUTABLE over the triples
 * [[graft.sources.GraphSources.parseRdfTriples]] produces: each triple
 * pattern becomes a constant-filtered scan of the triple table, shared
 * variables become natural equi-joins (never a theta join), OPTIONAL
 * blocks become left joins, FILTERs compile to Catalyst predicates, and
 * the modifiers (DISTINCT / ORDER BY / LIMIT) map 1:1. Catalyst then
 * owns join order and pushdown — the scale story is the same as any
 * multi-join star query.
 *
 * Supported subset (documented, parse-and-reject beyond it):
 *  - query forms `SELECT [DISTINCT] ?a ?b … | *`, `ASK`,
 *    `CONSTRUCT { template }`, `DESCRIBE <iri>…|?var [WHERE]`
 *    (symmetric-CBD-lite: every triple touching a resolved resource,
 *    swept once via a broadcast semi-join)
 *  - triple patterns `term term term .` with terms `?var`, `<iri>`,
 *    `"literal"`, or a plain token; a variable repeated inside one
 *    pattern constrains equality (e.g. `?x <p> ?x`); a bare VARIABLE
 *    predicate (`?s ?p ?o`) is an unfiltered scan binding `p`
 *  - `OPTIONAL { patterns }` (left join on the shared variables)
 *  - the full in-block algebra: brace blocks (UNION branches,
 *    OPTIONAL / MINUS / EXISTS bodies) carry their own FILTERs, BINDs,
 *    VALUES, nested `OPTIONAL`s (LeftJoin nests bottom-up),
 *    `FILTER [NOT] EXISTS` and `MINUS` (§8.3 — disjoint domains remove
 *    nothing); maybe-unbound keys (BIND aliases, nested-OPTIONAL vars,
 *    UNDEF rows) run through the §18.3 compatibility joins exactly as
 *    at top level — on BOTH sides of every operator. An OPTIONAL or
 *    EXISTS block FILTER may reference ENCLOSING-scope variables: it
 *    compiles into the join itself as the three-argument
 *    LeftJoin(Ω1, Ω2, expr) condition / correlated-EXISTS predicate
 *    (§18.2.2.3, [[condJoin]]); UNION-branch and MINUS filters stay
 *    uncorrelated per the spec's bottom-up scoping
 *  - `BIND(expr AS ?v)` — top-level AND inside brace blocks (UNION /
 *    OPTIONAL / MINUS / EXISTS bodies; a block BIND reads the block's
 *    own bindings, lands in the untyped-string domain, and OPTIONAL /
 *    UNION aliases surface as possibly-null solution variables) —
 *    with scalar expressions (§17): arithmetic
 *    (try_cast numeric view — type error = unbound, never a query
 *    failure), CONCAT / STR / STRLEN / UCASE / LCASE / SUBSTR /
 *    REPLACE (regex) / COALESCE / STRBEFORE / STRAFTER / ABS / ROUND /
 *    CEIL / FLOOR / IF(cond, e, e) / MD5 / SHA1 / SHA256 / SHA384 /
 *    SHA512 (§17.4.4 hashes, lowercase hex over the UTF-8 string
 *    form) / ENCODE_FOR_URI (§17.4.2.8, RFC 3986 percent-encoding);
 *    no rebinding, no forward refs
 *  - `FILTER (expr)` with `=`, `!=`, `<`, `<=`, `>`, `>=`, `&&`, `||`,
 *    `!`, parentheses over full scalar expressions; boolean builtins
 *    REGEX (with the `"i"` flag), STRSTARTS, STRENDS, CONTAINS,
 *    BOUND, isNumeric; `expr [NOT] IN (constants)`; a numeric side
 *    makes the comparison numeric (both sides try_cast to double),
 *    otherwise lexical
 *  - aggregate projections `(FN(expr) AS ?alias)` with FN ∈ COUNT (also
 *    `COUNT(*)`), SUM, AVG, MIN, MAX,
 *    GROUP_CONCAT (`; SEPARATOR="…"`, pinned to sorted value order),
 *    SAMPLE (pinned to MIN), and `GROUP BY` over vars AND expressions
 *    (§ GroupCondition: `?v`, a builtin call, `(expr)`, or
 *    `(expr AS ?alias)` — an aliased key is projectable, a bare
 *    expression groups on a synthesized hidden key; plain projected
 *    vars must be grouped — the SPARQL 1.1 rule) with
 *    `HAVING (cond) [(cond) …]` (multiple constraints conjoin) over
 *    group keys and aliases; the argument is a full scalar expression
 *    over the pre-aggregation frame; `DISTINCT` inside any aggregate
 *    (COUNT/SUM/AVG dedup the argument multiset, GROUP_CONCAT concats
 *    the distinct sorted values, MIN/MAX/SAMPLE are unchanged — the
 *    §11.2 Distinct(ToMultiset) reading); SUM/AVG take the numeric
 *    view of the untyped literal (non-numeric → null, skipped),
 *    MIN/MAX compare lexically
 *  - projection expressions `SELECT (expr AS ?x)` (§ SelectExpr),
 *    freely mixed with plain vars and aggregates; over an aggregated
 *    query an expression sees group keys, aggregate aliases, and
 *    earlier expression aliases (computed AFTER grouping), otherwise
 *    the full solution frame — the same left-to-right no-rebind scope
 *    discipline as BIND
 *  - `{ SELECT … }` sub-queries (§12): evaluated bottom-up, joined on
 *    the projected variables (the only visible surface); join keys
 *    must be bound in the subquery's required patterns
 *  - `VALUES ?x { … }` / `VALUES (?x ?y) { (…) … }` inline data —
 *    a broadcast compatibility join against the group at its syntactic
 *    position (UNDEF rows are unbound wildcards, §18.3); also INSIDE
 *    brace blocks (constraining the block's own bindings) and as the
 *    trailing ValuesClause of a SELECT query (§18.2.4.3 — joins the
 *    solution sequence after grouping/HAVING and BEFORE the §18.2.5
 *    OrderBy/Projection/Distinct/Slice modifiers; any variable is
 *    legal, non-result vars are dropped by the projection)
 *  - `ORDER BY [ASC|DESC](expr) …` with full scalar-expression sort
 *    keys; §18.2.5 orders BEFORE projection, so NON-projected sort
 *    variables are legal — except under SELECT DISTINCT, which may
 *    only order by projected variables (§15.1, rejected);
 *    `OFFSET n`, `LIMIT n`
 *  - property paths in the predicate position: `^p` inverse, `p1/p2`
 *    sequence (composable, e.g. `^p1/p2`), and the `a` rdf:type
 *    keyword — rewritten at parse time into ordinary triple patterns
 *    chained through non-projectable intermediates, so Catalyst plans
 *    them as the same equi-join chain. Alternation `(p1|p2)` over
 *    constant predicates compiles to an `isin` scan filter (one
 *    pattern, no union). Kleene `p+` / `p*` / `p?` over a constant
 *    predicate (or alternation set) evaluates per SPARQL 1.1 §18.4
 *    ArbitraryLengthPath — DISTINCT reachable endpoint pairs, computed
 *    as a semi-naive fixpoint: a constant endpoint seeds a frontier
 *    BFS (reachable SET, linear in edges); variable–variable paths
 *    build the pair closure (inherently quadratic in the worst case —
 *    same as any engine). Zero-length solutions (`*`/`?`) bind a
 *    constant endpoint to itself and a variable pair to every term of
 *    the graph (subject∪object positions, the Jena reading of
 *    "terms in G"). Negated property sets `!p` / `!(p1|^p2|…)` (§9.1)
 *    compile to NOT-isin scan filters — inverse members become an
 *    endpoint-swapped scan unioned with the forward half, and Kleene
 *    modifiers COMPOSE over negated sets (`(!p)*` walks the complement
 *    edge set through the same §18.4 fixpoint). Kleene and
 *    alternation modifiers compose INSIDE multi-step sequences
 *    (`p/q*` and the starred-head form — the PathPat chains through
 *    the `__path` intermediates); variable PREDICATES inside
 *    multi-step paths remain parse-rejected
 *  - RDF DATASETS (§13) over a (g, s, p, o) QUAD frame (the g-null
 *    rows form the default graph, distinct non-null g values the named
 *    graphs; [[graft.sources.GraphSources.parseRdfQuads]] ingests
 *    N-Quads): `GRAPH <iri> { … }` evaluates the full block algebra
 *    over one pre-restricted graph view; `GRAPH ?g { … }` ranges over
 *    the named-graph set with §13.3 same-graph scoping (every pattern
 *    binds the g column — the block's equi-joins pin one graph per
 *    solution, ?g surfaces as a solution variable; property paths
 *    there are rejected — pin the graph instead); dataset clauses
 *    `FROM <iri>` (merges into the default graph) and
 *    `FROM NAMED <iri>` (restricts the named set; only-FROM leaves it
 *    empty, §13.2). A plain (s, p, o) triple frame keeps the exact
 *    pre-dataset behavior, with GRAPH / FROM cleanly rejected
 *  - SPARQL 1.1 UPDATE (the sibling W3C spec, [[update]]): INSERT /
 *    DELETE DATA, DELETE WHERE, DELETE {} INSERT {} WHERE, CLEAR, and
 *    on quad frames GRAPH-scoped data/templates plus ADD / COPY / MOVE
 *    — functional copy-on-write (returns the updated set graph)
 *  - §18.3 solution-compatibility joins throughout: a shared variable
 *    that can arrive UNBOUND (padded out of a UNION branch, introduced
 *    by OPTIONAL or BIND, UNDEF inline rows, a subquery aggregate
 *    alias) joins by compatibility — unbound matches anything and the
 *    merge adopts the bound side's value. Implemented as a null-mask
 *    stratification into plain Catalyst equi-joins (never a theta
 *    join); see [[compatJoin]]/[[compatJoinBoth]]
 *  - `MINUS { patterns }` (SPARQL 1.1 §8.3): a compat anti-join on the
 *    shared variables; disjoint domains remove nothing (the spec's
 *    no-op case — per solution, the all-shared-null stratum survives).
 *    `FILTER EXISTS { patterns }` / `FILTER NOT EXISTS { … }` (§8.1.1):
 *    a compat semi-/anti-join, or a broadcast existence probe when no
 *    variable is shared — the documented MINUS vs NOT-EXISTS divergence
 *    extends to unbound keys (MINUS keeps, NOT EXISTS drops)
 *  - group elements fold in SYNTACTIC ORDER (§18.2.2.6): a sub-SELECT
 *    / VALUES / BIND / OPTIONAL / MINUS / FILTER-EXISTS written after
 *    an OPTIONAL sees the extended solutions (BGP runs commute; the
 *    one union chain per group is hoisted to the front; FILTERs apply
 *    at group end per §18.2.2.2); a BIND referencing a variable no
 *    PRIOR element binds yields an unbound alias (§18.2.2.5 scope)
 */
object Sparql {

  /** The `a` predicate keyword's expansion (SPARQL 1.1 §9.1). */
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  // ----- AST ---------------------------------------------------------------
  sealed trait Term
  final case class V(name: String) extends Term
  final case class Const(value: String) extends Term // IRI (brackets stripped) or literal
  /** Blank-node label `_:b`. In a CONSTRUCT template it instantiates a
    * per-solution SKOLEMIZED id (deterministic hash of the solution
    * binding — fresh across solutions, shared across the template's
    * triples, exactly replayable cross-engine; distinct solutions that
    * agree on every binding share one skolem id, the standard
    * skolemization caveat, unobservable up to graph isomorphism). In a
    * WHERE pattern it behaves as the scoped non-projectable variable
    * §4.1.4 prescribes. */
  final case class BNodeT(label: String) extends Term
  /** Predicate-position alternation `(p1|p2|…)` — an `isin` scan filter. */
  final case class AnyOf(values: Seq[String]) extends Term
  /** Negated property set `!p` / `!(p1|^p2|…)` (SPARQL 1.1 §9.1
    * PathNegatedPropertySet): NOT-isin scan filters on the predicate
    * column — `values` are the forward members, `inverses` the
    * `^`-prefixed ones. With both parts present the pattern is the
    * UNION of the forward NOT-isin scan and the endpoint-swapped
    * inverse NOT-isin scan (§9.1's PathOneInPropertySet split). */
  final case class NotOf(values: Seq[String],
                         inverses: Seq[String] = Nil) extends Term
  sealed trait Pat
  final case class Pattern(s: Term, p: Term, o: Term) extends Pat
  /** Kleene path step: `+` (zero = false), `*` (zero = true) or `?`
    * (zero = true, single = true) over a predicate step term — a
    * constant, an alternation set, or a NEGATED property set (§9.1
    * composed with §18.4: `(!p)*` walks the complement edge set). */
  final case class PathPat(s: Term, step: Term, inverse: Boolean,
                           zero: Boolean, single: Boolean, o: Term) extends Pat
  private def termsOf(p: Pat): Seq[Term] = p match {
    case Pattern(s, pr, o) => Seq(s, pr, o)
    case PathPat(s, _, _, _, _, o) => Seq(s, o)
  }
  /** Variables an expression / filter references (scope checks and the
    * BIND missing-var rule share these). */
  private def varsOfExpr(e: SExpr): Seq[String] = e match {
    case ETerm(V(n)) => Seq(n)
    case ETerm(_) => Seq.empty
    case EFn(_, as) => as.flatMap(varsOfExpr)
    case EArith(_, a, b) => varsOfExpr(a) ++ varsOfExpr(b)
    case EIf(c, a, b) => varsOfFilter(c) ++ varsOfExpr(a) ++ varsOfExpr(b)
  }
  private def varsOfFilter(f: FilterExpr): Seq[String] = f match {
    case Cmp(_, a, b, _) => varsOfExpr(a) ++ varsOfExpr(b)
    case And(a, b) => varsOfFilter(a) ++ varsOfFilter(b)
    case Or(a, b) => varsOfFilter(a) ++ varsOfFilter(b)
    case Not(x) => varsOfFilter(x)
    case FnCond(_, as) => as.flatMap(varsOfExpr)
    case InList(e, _, _) => varsOfExpr(e)
  }
  // ----- Expressions (BIND / FILTER operands, SPARQL 1.1 §17) -------------
  /** Scalar expression: a term, a builtin function call, binary
    * arithmetic, or IF. The value domain is the untyped string literal;
    * arithmetic and STRLEN take/produce the numeric (double) view —
    * a non-numeric operand becomes null = unbound, the SPARQL
    * error-propagation reading `try_cast` matches. */
  sealed trait SExpr
  final case class ETerm(t: Term) extends SExpr
  /** CONCAT / STR / STRLEN / UCASE / LCASE / SUBSTR / REPLACE / COALESCE. */
  final case class EFn(name: String, args: Seq[SExpr]) extends SExpr
  final case class EArith(op: Char, l: SExpr, r: SExpr) extends SExpr
  final case class EIf(cond: FilterExpr, thenE: SExpr, elseE: SExpr) extends SExpr

  sealed trait FilterExpr
  final case class Cmp(op: String, l: SExpr, r: SExpr, numeric: Boolean) extends FilterExpr
  final case class And(l: FilterExpr, r: FilterExpr) extends FilterExpr
  final case class Or(l: FilterExpr, r: FilterExpr) extends FilterExpr
  final case class Not(e: FilterExpr) extends FilterExpr
  /** Boolean builtin: REGEX(e, pat[, "i"]) / STRSTARTS / STRENDS /
    * CONTAINS (each (e, e)) / BOUND(?v). */
  final case class FnCond(name: String, args: Seq[SExpr]) extends FilterExpr
  /** `expr [NOT] IN (c1, c2, …)` — constant list membership. */
  final case class InList(e: SExpr, values: Seq[String], negated: Boolean) extends FilterExpr
  /** One aggregate projection: function (COUNT/SUM/AVG/MIN/MAX/
    * GROUP_CONCAT/SAMPLE), argument expression (None = COUNT(*)), alias,
    * the DISTINCT modifier (§11.2 — dedups the argument multiset;
    * a no-op on the extrema MIN/MAX/SAMPLE), and GROUP_CONCAT's
    * separator.
    * SUM/AVG operate on the numeric view of the untyped literal
    * (non-numeric bindings become null and are skipped — both engines'
    * cast semantics); MIN/MAX compare lexically, the ordering the
    * untyped string domain actually has. GROUP_CONCAT joins in SORTED
    * value order and SAMPLE picks MIN — SPARQL leaves both
    * implementation-defined; pinning them keeps results replayable. */
  final case class Agg(fn: String, arg: Option[SExpr], alias: String,
                       isDistinct: Boolean = false, sep: String = " ")
  /** An inline VALUES data block: variables and their binding rows. */
  final case class ValuesBlock(vars: Seq[String], rows: Seq[Seq[String]])
  /** A brace-delimited group (UNION branch / OPTIONAL / MINUS / EXISTS
    * body): its triple patterns plus any FILTERs written INSIDE the
    * braces — those filters apply to the block's own solutions before
    * it joins the outer group, and may only reference variables the
    * block itself binds (an outer-variable LeftJoin condition would
    * need SPARQL's three-way LeftJoin semantics — rejected, not
    * mis-answered). */
  /** A brace group (UNION branch / OPTIONAL / MINUS / EXISTS body):
    * patterns, its own FILTERs, its own BINDs, and NESTED OPTIONAL
    * sub-blocks (`OPTIONAL { … OPTIONAL { … } }` — the LeftJoin nests
    * bottom-up inside the block frame). Block-BIND values land in the
    * untyped-string domain (cast to string) so branch frames union/pad
    * uniformly; numeric use downstream re-views them via try_cast like
    * any stored literal. */
  final case class Block(pats: Seq[Pat], filters: Seq[FilterExpr] = Seq.empty,
                         binds: Seq[(String, SExpr)] = Seq.empty,
                         optionals: Seq[Block] = Seq.empty,
                         values: Seq[ValuesBlock] = Seq.empty,
                         existsBlocks: Seq[(Boolean, Block)] = Seq.empty,
                         minusBlocks: Seq[Block] = Seq.empty)
  final case class Query(distinct: Boolean, projection: Seq[String],
                         aggregates: Seq[Agg], groupBy: Seq[String],
                         patterns: Seq[Pat], unionBranches: Seq[Block],
                         optionals: Seq[Block],
                         filters: Seq[FilterExpr],
                         orderBy: Seq[(SExpr, Boolean)], limit: Option[Int],
                         ask: Boolean = false,
                         construct: Seq[Pattern] = Seq.empty,
                         minuses: Seq[Block] = Seq.empty,
                         existsFilters: Seq[(Boolean, Block)] = Seq.empty,
                         valuesBlocks: Seq[ValuesBlock] = Seq.empty,
                         offset: Option[Int] = None,
                         binds: Seq[(String, SExpr)] = Seq.empty,
                         describe: Seq[Term] = Seq.empty,
                         having: Option[FilterExpr] = None,
                         subqueries: Seq[String] = Seq.empty,
                         selectExprs: Seq[(String, SExpr)] = Seq.empty,
                         groupExprs: Seq[(String, SExpr)] = Seq.empty,
                         trailingValues: Option[ValuesBlock] = None,
                         groupElems: Seq[GElem] = Seq.empty,
                         fromGraphs: Seq[String] = Seq.empty,
                         fromNamed: Seq[String] = Seq.empty,
                         // update-only (sparql11-update §3.1.3): `WITH <g>`
                         // replaces the DEFAULT graph for WHERE matching
                         // while leaving the named-graph set untouched, so
                         // explicit GRAPH blocks inside the WHERE still see
                         // every named graph (unlike FROM, which empties
                         // the named set when no FROM NAMED is given)
                         withDefaultGraph: Option[String] = None)

  /** One order-sensitive group element. SPARQL 1.1 §18.2.2.6 folds a
    * group graph pattern LEFT-TO-RIGHT: Join elements (BGP runs,
    * inline data, sub-SELECTs) commute with each other, but OPTIONAL
    * (LeftJoin), MINUS, FILTER [NOT] EXISTS and BIND do not — their
    * syntactic position IS their semantics (a sub-SELECT written after
    * an OPTIONAL joins the EXTENDED solutions). The parser records the
    * group body as this ordered sequence; the by-kind lists on [[Query]]
    * remain the surface the parse-time scope checks read. The UNION
    * chain and FILTERs stay hoisted (filters apply at group end per
    * §18.2.2.2; one union chain per group, joined first). */
  sealed trait GElem
  final case class GPats(pats: Seq[Pat]) extends GElem
  final case class GOpt(b: Block) extends GElem
  final case class GMinus(b: Block) extends GElem
  final case class GExists(positive: Boolean, b: Block) extends GElem
  final case class GValues(vb: ValuesBlock) extends GElem
  final case class GSub(text: String) extends GElem
  final case class GBind(v: String, e: SExpr) extends GElem
  /** `GRAPH <iri> { … }` / `GRAPH ?g { … }` (§13.3): the block's
    * patterns match ONE named graph — a constant pins it, a variable
    * ranges over the named-graph set (every pattern in the block binds
    * the same ?g, which surfaces as a solution variable). */
  final case class GGraph(g: Term, b: Block) extends GElem

  // ----- Parser (recursive descent over a simple token stream) -------------
  private def tokenize(q: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    val s = q
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '<') {
        // '<' opens an IRI only when a whitespace-free '<...>' follows;
        // otherwise it is the less-than (or <=) operator
        val j = s.indexOf('>', i)
        if (j > i && !s.substring(i + 1, j)
            .exists(ch => ch.isWhitespace || "{}()\"&|=!".contains(ch))) {
          out += s.substring(i, j + 1); i = j + 1
        } else if (i + 1 < s.length && s(i + 1) == '=') {
          out += "<="; i += 2
        } else { out += "<"; i += 1 }
      } else if (c == '"') {
        val j = s.indexOf('"', i + 1)
        require(j > 0, s"unterminated literal at offset $i")
        out += s.substring(i, j + 1); i = j + 1
      } else if ("{}().,".contains(c)) { out += c.toString; i += 1 }
      else if (c == '&') {
        require(i + 1 < s.length && s(i + 1) == c, s"single '$c' at offset $i")
        out += s.substring(i, i + 2); i += 2
      } else if (c == '|') {
        // '||' is the FILTER disjunction; a single '|' separates path
        // alternation branches
        if (i + 1 < s.length && s(i + 1) == '|') { out += "||"; i += 2 }
        else { out += "|"; i += 1 }
      } else if (">=!".contains(c)) {
        if (i + 1 < s.length && s(i + 1) == '=') {
          out += s.substring(i, i + 2); i += 2
        } else { out += c.toString; i += 1 }
      } else {
        var j = i
        while (j < s.length && !s(j).isWhitespace && !"{}().,\"<>=!&|".contains(s(j))) j += 1
        out += s.substring(i, j); i = j
      }
    }
    out.toList
  }

  def parse(q: String): Query = {
    var ts = tokenize(q)
    def peek: String = ts.headOption.getOrElse("")
    def pop(): String = { val h = peek; require(ts.nonEmpty, "unexpected end of query"); ts = ts.tail; h }
    def expect(t: String): Unit = {
      val got = pop()
      require(got.equalsIgnoreCase(t), s"expected '$t', got '$got'")
    }
    def isVar(t: String) = t.startsWith("?") && t.length > 1
    // PREFIX declarations (SPARQL 1.1 §4.1.1): `pfx:local` names expand
    // to `<ns+local>`; a colon-carrying plain token with an UNDECLARED
    // prefix is an error, not a literal — the spec's reading
    val prefixes = scala.collection.mutable.Map.empty[String, String]
    def term(t: String): Term =
      if (isVar(t)) V(t.drop(1))
      else if (t.startsWith("<")) Const(t.substring(1, t.length - 1))
      else if (t.startsWith("\"")) Const(t.substring(1, t.length - 1))
      else if (t.startsWith("_:") && t.length > 2) BNodeT(t.drop(2))
      else if (t.contains(":")) {
        val i = t.indexOf(':')
        val pfx = t.substring(0, i)
        require(prefixes.contains(pfx),
          s"undeclared prefix '$pfx:' in '$t' (add a PREFIX $pfx: <…> header)")
        Const(prefixes(pfx) + t.substring(i + 1))
      }
      else Const(t)
    while (peek.equalsIgnoreCase("PREFIX")) {
      pop()
      val name = pop()
      require(name.endsWith(":") && name.length >= 1,
        s"PREFIX needs a 'name:' label, got '$name'")
      val iri = pop()
      require(iri.length >= 2 && iri.head == '<' && iri.last == '>',
        s"PREFIX needs an <iri>, got '$iri'")
      prefixes(name.dropRight(1)) = iri.substring(1, iri.length - 1)
    }

    def numericLit(t: Term): Boolean = t match {
      case Const(v) => scala.util.Try(v.toDouble).isSuccess
      case _ => false
    }
    // scalar-expression builtins (BIND / comparison operands) vs boolean
    // builtins (FILTER atoms)
    val exprFns = Set("CONCAT", "STR", "STRLEN", "UCASE", "LCASE",
      "SUBSTR", "REPLACE", "COALESCE", "STRBEFORE", "STRAFTER",
      "ABS", "ROUND", "CEIL", "FLOOR", "BNODE",
      "MD5", "SHA1", "SHA256", "SHA384", "SHA512", "ENCODE_FOR_URI",
      "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ", "TIMEZONE",
      "IRI", "URI")
    val boolFns = Set("REGEX", "STRSTARTS", "STRENDS", "CONTAINS", "BOUND",
      "ISNUMERIC", "ISBLANK", "SAMETERM")

    /** Does the expression carry the numeric (double) view? Drives the
      * comparison coercion exactly as bare numeric literals always have. */
    def isNumericExpr(e: SExpr): Boolean = e match {
      case ETerm(t) => numericLit(t)
      case EArith(_, _, _) => true
      case EFn("STRLEN" | "ABS" | "ROUND" | "CEIL" | "FLOOR" |
               "YEAR" | "MONTH" | "DAY" | "HOURS" | "MINUTES" | "SECONDS", _) => true
      case EIf(_, a, b) => isNumericExpr(a) || isNumericExpr(b)
      case _ => false
    }

    /** Scalar expression: `add := mul (('+'|'-') mul)*`,
      * `mul := primary (('*'|'/') primary)*`, primaries are parens,
      * IF(cond, e, e), the builtin functions, or a term. Operators must
      * be whitespace-separated (the tokenizer glues `?x+1` into one
      * token — the Kleene-path gluing discipline). */
    def parseExpr(): SExpr = {
      def fnArgs(): List[SExpr] = {
        expect("(")
        val args = scala.collection.mutable.ListBuffer.empty[SExpr]
        if (peek != ")") {
          args += parseExpr()
          while (peek == ",") { pop(); args += parseExpr() }
        }
        expect(")")
        args.toList
      }
      def primary(): SExpr = {
        val pk = peek
        if (pk == "(") { pop(); val e = parseExpr(); expect(")"); e }
        else if (pk.equalsIgnoreCase("IF")) {
          pop(); expect("(")
          val c = parseFilter(); expect(",")
          val t1 = parseExpr(); expect(",")
          val t2 = parseExpr(); expect(")")
          EIf(c, t1, t2)
        } else if (exprFns.contains(pk.toUpperCase)) {
          val fn = pop().toUpperCase
          val args = fnArgs()
          val arity: PartialFunction[String, Boolean] = {
            case "CONCAT" | "COALESCE" => args.nonEmpty
            case "STR" | "STRLEN" | "UCASE" | "LCASE" |
                 "ABS" | "ROUND" | "CEIL" | "FLOOR" |
                 "MD5" | "SHA1" | "SHA256" | "SHA384" | "SHA512" |
                 "ENCODE_FOR_URI" => args.size == 1
            case "SUBSTR" => args.size == 2 || args.size == 3
            case "REPLACE" => args.size == 3
            case "STRBEFORE" | "STRAFTER" => args.size == 2
            case "BNODE" => args.size <= 1
            case "YEAR" | "MONTH" | "DAY" | "HOURS" | "MINUTES" |
                 "SECONDS" | "TZ" | "TIMEZONE" | "IRI" | "URI" => args.size == 1
          }
          require(arity(fn), s"wrong number of arguments for $fn")
          EFn(fn, args)
        } else ETerm(term(pop()))
      }
      def mul(): SExpr = {
        var e = primary()
        while (peek == "*" || peek == "/") {
          val op = pop().head; e = EArith(op, e, primary())
        }
        e
      }
      var e = mul()
      while (peek == "+" || peek == "-") {
        val op = pop().head; e = EArith(op, e, mul())
      }
      e
    }

    def parseFilter(): FilterExpr = {
      def atom(): FilterExpr = {
        if (peek == "!") { pop(); Not(atom()) }
        // "(" opens a parenthesized BOOLEAN group here; parenthesized
        // arithmetic is available inside parseExpr primaries (i.e. not
        // as the leftmost token of a comparison)
        else if (peek == "(") { pop(); val e = orExpr(); expect(")"); e }
        else if (boolFns.contains(peek.toUpperCase)) {
          val fn = pop().toUpperCase
          expect("(")
          val args = scala.collection.mutable.ListBuffer.empty[SExpr]
          if (peek != ")") {
            args += parseExpr()
            while (peek == ",") { pop(); args += parseExpr() }
          }
          expect(")")
          fn match {
            case "BOUND" =>
              require(args.size == 1 && args.head.isInstanceOf[ETerm] &&
                args.head.asInstanceOf[ETerm].t.isInstanceOf[V],
                "BOUND takes exactly one ?var")
            case "REGEX" => require(args.size == 2 || args.size == 3,
              "REGEX takes (expr, pattern[, flags])")
            case "ISNUMERIC" | "ISBLANK" =>
              require(args.size == 1, s"$fn takes exactly one argument")
            case _ => require(args.size == 2, s"$fn takes exactly two arguments")
          }
          FnCond(fn, args.toList)
        } else {
          val l = parseExpr()
          if (peek.equalsIgnoreCase("IN") || peek.equalsIgnoreCase("NOT")) {
            val negated = pop().equalsIgnoreCase("NOT")
            if (negated) expect("IN")
            expect("(")
            val vs = scala.collection.mutable.ListBuffer.empty[String]
            def constTok(): Unit = term(pop()) match {
              case Const(v) => vs += v
              case other => throw new IllegalArgumentException(
                s"IN list must be constants, got $other")
            }
            constTok()
            while (peek == ",") { pop(); constTok() }
            expect(")")
            InList(l, vs.toList, negated)
          } else {
            val op = pop()
            require(Seq("=", "!=", "<", "<=", ">", ">=").contains(op), s"bad operator '$op'")
            val r = parseExpr()
            Cmp(op, l, r, isNumericExpr(l) || isNumericExpr(r))
          }
        }
      }
      def andExpr(): FilterExpr = {
        var e = atom()
        while (peek == "&&") { pop(); e = And(e, atom()) }
        e
      }
      def orExpr(): FilterExpr = {
        var e = andExpr()
        while (peek == "||") { pop(); e = Or(e, andExpr()) }
        e
      }
      orExpr()
    }

    /** `?x { v … }` or `(?x ?y) { (v v) … }` after a consumed VALUES
      * keyword — shared by the in-group form and the trailing
      * ValuesClause. UNDEF rows carry null = unbound; the §18.3
      * compatibility join treats them as wildcards. */
    def parseValuesBlock(): ValuesBlock = {
      def constVal(): String = {
        val tok = pop()
        if (tok.equalsIgnoreCase("UNDEF")) return null
        term(tok) match {
          case Const(v) => v
          case _ => throw new IllegalArgumentException(
            s"VALUES data must be constants, got '$tok'")
        }
      }
      val vars = scala.collection.mutable.ListBuffer.empty[String]
      val multi = peek == "("
      if (multi) {
        pop()
        while (peek != ")") {
          val v = pop()
          require(isVar(v), s"VALUES needs ?vars, got '$v'")
          vars += v.drop(1)
        }
        expect(")")
      } else {
        val v = pop()
        require(isVar(v), s"VALUES needs a ?var, got '$v'")
        vars += v.drop(1)
      }
      require(vars.nonEmpty, "VALUES needs at least one variable")
      expect("{")
      val rows = scala.collection.mutable.ListBuffer.empty[Seq[String]]
      while (peek != "}") {
        if (multi) {
          expect("(")
          val r = scala.collection.mutable.ListBuffer.empty[String]
          while (peek != ")") r += constVal()
          expect(")")
          require(r.size == vars.size,
            s"VALUES row has ${r.size} terms for ${vars.size} variables")
          rows += r.toSeq
        } else rows += Seq(constVal())
      }
      expect("}")
      require(rows.nonEmpty, "VALUES needs at least one row")
      ValuesBlock(vars.toSeq, rows.toSeq)
    }

    // query form: SELECT … WHERE | ASK WHERE | CONSTRUCT { template } WHERE
    // | DESCRIBE term… [WHERE] — the four SPARQL 1.1 query forms
    val form = pop().toUpperCase
    require(Seq("SELECT", "ASK", "CONSTRUCT", "DESCRIBE").contains(form),
      s"expected SELECT/ASK/CONSTRUCT/DESCRIBE, got '$form'")
    // REDUCED (§18.5.5) permits-but-does-not-require eliminating
    // duplicates; deduplicating is a conforming implementation and the
    // deterministic one, so REDUCED executes as DISTINCT
    val distinct = form == "SELECT" &&
      (peek.equalsIgnoreCase("DISTINCT") ||
        peek.equalsIgnoreCase("REDUCED")) && { pop(); true }
    val proj = scala.collection.mutable.ListBuffer.empty[String]
    val aggs = scala.collection.mutable.ListBuffer.empty[Agg]
    val selExprs = scala.collection.mutable.ListBuffer.empty[(String, SExpr)]
    val template = scala.collection.mutable.ListBuffer.empty[Pattern]
    var star = false
    // CONSTRUCT WHERE { … } (§10.2.3): the WHERE triples ARE the
    // template — resolved after the WHERE block parses
    var constructWhere = false
    if (form == "CONSTRUCT") {
      if (peek.equalsIgnoreCase("WHERE")) constructWhere = true
      else {
        expect("{")
        while (peek != "}") {
          val a = pop(); val b = pop(); val c = pop()
          template += Pattern(term(a), term(b), term(c))
          if (peek == ".") pop()
        }
        expect("}")
      }
    }
    // DESCRIBE resources: constants (no WHERE needed) and/or ?vars bound
    // by the WHERE block
    val describeTerms = scala.collection.mutable.ListBuffer.empty[Term]
    if (form == "DESCRIBE") {
      while (ts.nonEmpty && !peek.equalsIgnoreCase("WHERE"))
        describeTerms += term(pop())
      require(describeTerms.nonEmpty, "DESCRIBE needs at least one resource or ?var")
    }
    val hasWhere = form != "DESCRIBE" ||
      (ts.nonEmpty && peek.equalsIgnoreCase("WHERE"))
    // dataset clauses (§13.2): FROM <iri> merges that graph into the
    // DEFAULT graph; FROM NAMED <iri> admits it to the named-graph set
    val fromGraphs = scala.collection.mutable.ListBuffer.empty[String]
    val fromNamed = scala.collection.mutable.ListBuffer.empty[String]
    while (form == "SELECT" && !peek.equalsIgnoreCase("WHERE")) {
      val t = pop()
      if (t.equalsIgnoreCase("FROM")) {
        val named = peek.equalsIgnoreCase("NAMED") && { pop(); true }
        val iri = term(pop()) match {
          case Const(v) => v
          case other => throw new IllegalArgumentException(
            s"FROM needs an <iri>, got $other")
        }
        if (named) fromNamed += iri else fromGraphs += iri
      }
      else if (t == "*") star = true
      else if (t == "(") {
        // ( FN([DISTINCT] expr | *) AS ?alias ) — the SPARQL 1.1
        // aggregate form (§11.1, GROUP_CONCAT takes an optional
        // `; SEPARATOR="…"` tail) — distinguished from a plain
        // projection expression `( expr AS ?alias )` (§ SelectExpr) by
        // an aggregate keyword followed by its own '('
        val isAgg = Seq("COUNT", "SUM", "AVG", "MIN", "MAX",
          "GROUP_CONCAT", "SAMPLE").contains(peek.toUpperCase) &&
          ts.drop(1).headOption.contains("(")
        if (!isAgg) {
          val e = parseExpr()
          expect("AS")
          val al = pop()
          require(isVar(al), s"AS needs a ?alias, got '$al'")
          expect(")")
          selExprs += (al.drop(1) -> e)
          proj += al.drop(1)
        } else {
        val fn = pop().toUpperCase
        expect("(")
        val dist = peek.equalsIgnoreCase("DISTINCT") && { pop(); true }
        // the tokenizer glues a trailing ';' onto a bare ?var token —
        // split it back so the expression parser sees clean tokens
        if (peek.length > 1 && peek != ";" && peek.endsWith(";"))
          ts = peek.dropRight(1) :: ";" :: ts.tail
        // §11: the aggregate argument is a full scalar expression
        val arg = if (peek == "*") {
          pop()
          require(fn == "COUNT" && !dist, s"$fn needs an expression argument")
          None
        } else Some(parseExpr())
        var sep = " "
        if (peek == ";") {
          require(fn == "GROUP_CONCAT", s"only GROUP_CONCAT takes a SEPARATOR")
          pop()
          require(pop().equalsIgnoreCase("SEPARATOR"),
            "expected SEPARATOR after ';'")
          expect("=")
          val lt = pop()
          require(lt.length >= 2 && lt.head == '"' && lt.last == '"',
            s"SEPARATOR needs a quoted literal, got '$lt'")
          sep = lt.drop(1).dropRight(1)
        }
        expect(")"); expect("AS")
        val al = pop()
        require(isVar(al), s"AS needs a ?alias, got '$al'")
        expect(")")
        aggs += Agg(fn, arg, al.drop(1), dist, sep)
        proj += al.drop(1)
        }
      }
      else { require(isVar(t), s"projection must be ?vars or *, got '$t'"); proj += t.drop(1) }
    }
    val patterns = scala.collection.mutable.ListBuffer.empty[Pat]
    val optionals = scala.collection.mutable.ListBuffer.empty[Block]
    val filters = scala.collection.mutable.ListBuffer.empty[FilterExpr]
    val minuses = scala.collection.mutable.ListBuffer.empty[Block]
    val existsFilters = scala.collection.mutable.ListBuffer.empty[(Boolean, Block)]
    val valuesBlocks = scala.collection.mutable.ListBuffer.empty[ValuesBlock]
    val binds = scala.collection.mutable.ListBuffer.empty[(String, SExpr)]

    // ---- property paths (SPARQL 1.1 subset: ^inverse, p1/p2 sequence,
    // (p1|p2) alternation, Kleene */+/? on constant predicate sets,
    // `a` = rdf:type) — unmodified steps compile to ordinary triple
    // patterns chained through fresh non-projectable `__path*`
    // variables (alternation = an AnyOf predicate, one isin-filtered
    // scan), and a Kleene-modified step becomes a PathPat evaluated by
    // the fixpoint machinery in kleeneFrame. Parse-rejects beyond the
    // subset (variables inside a multi-step, inverted or modified path).
    var pathId = 0
    def pathTerm(t: String): Term =
      if (t == "a") Const(RdfType) else term(t)
    def altValues(t: Term): Seq[String] = t match {
      case Const(v) => Seq(v)
      case AnyOf(vs) => vs
      case NotOf(_, _) => throw new IllegalArgumentException(
        "a negated property set cannot take a path modifier or join an alternation")
      case V(n) => throw new IllegalArgumentException(
        s"property paths cannot contain variables (?$n)")
    }
    // trailing Kleene modifier glued to a PLAIN token (`knows+`); IRIs
    // and literals close with '>' / '"' so stripping is always safe
    def stripMod(tok: String): (String, Option[Char]) =
      if (tok.length > 1 && "*+?".contains(tok.last)) (tok.dropRight(1), Some(tok.last))
      else (tok, None)
    def parsePatterns(): Seq[Pat] = {
      // §4.1.4: a blank-node label in a pattern is a scoped variable
      def deB(t: Term): Term = t match {
        case BNodeT(l) => V("__bn_" + l)
        case other => other
      }
      val sT = deB(term(pop()))
      // (predicate term, inverse, Kleene modifier)
      val steps = scala.collection.mutable.ListBuffer.empty[(Term, Boolean, Option[Char])]
      def setMod(m: Char): Unit = {
        val (pt, inv, mod) = steps.remove(steps.size - 1)
        require(mod.isEmpty, s"duplicate path modifier '$m'")
        steps += ((pt, inv, Some(m)))
      }
      def feedTok(tok0: String, inv0: Boolean): Unit = {
        var tok = tok0
        var inv = inv0
        if (tok == "^") { inv = true; tok = pop() }
        else if (tok.startsWith("^") && tok.length > 1) { inv = true; tok = tok.drop(1) }
        // a plain (non-IRI, non-var, non-literal) token may carry the
        // whole sequence: `knows/worksAt+` tokenizes as one token
        if (!tok.startsWith("<") && !tok.startsWith("\"") && !tok.startsWith("?") &&
            tok.contains("/")) {
          val parts = tok.split("/")
          require(parts.length >= 2 && parts.forall(_.nonEmpty), s"bad path '$tok'")
          val (h, hm) = stripMod(parts.head)
          steps += ((pathTerm(h), inv, hm))
          parts.tail.foreach { p =>
            val (x, m) = stripMod(p); steps += ((pathTerm(x), false, m))
          }
        } else {
          val (x, m) = stripMod(tok)
          steps += ((pathTerm(x), inv, m))
        }
      }
      // one predicate unit: `^`-prefixed, parenthesized alternation, or
      // a single token
      def feedUnit(): Unit = {
        var inv = false
        if (peek == "^") { pop(); inv = true }
        if (peek == "!") {
          // negated property set: !p | !(p1|^p2|…) (SPARQL 1.1 §9.1) —
          // forward members become a NOT-isin predicate filter; inverse
          // members an endpoint-swapped NOT-isin scan, unioned (§9.1
          // splits the set into PathOneInPropertySet halves)
          pop()
          require(!inv, "cannot invert a negated property set (^!p)")
          val fwd = scala.collection.mutable.ListBuffer.empty[String]
          val bwd = scala.collection.mutable.ListBuffer.empty[String]
          def member(): Unit = {
            var isInv = false
            if (peek == "^") { pop(); isInv = true }
            val tok = if (!isInv && peek.startsWith("^") && peek.length > 1) {
              isInv = true; pop().drop(1)
            } else pop()
            (if (isInv) bwd else fwd) ++= altValues(pathTerm(tok))
          }
          if (peek == "(") {
            pop(); member()
            while (peek == "|") { pop(); member() }
            expect(")")
          } else member()
          steps += ((NotOf(fwd.toList.distinct, bwd.toList.distinct),
            false, None))
        } else if (peek == "(") {
          pop()
          val vals = scala.collection.mutable.ListBuffer.empty[String]
          vals ++= altValues(pathTerm(pop()))
          while (peek == "|") { pop(); vals ++= altValues(pathTerm(pop())) }
          expect(")")
          steps += ((AnyOf(vals.toList.distinct), inv, None))
        } else feedTok(pop(), inv)
      }
      feedUnit()
      // continuation: Kleene modifier tokens, bare `|` alternation, and
      // `/` sequence steps (the tokenizer glues '/' onto a following
      // plain step: `<p>/a` → tokens "<p>", "/a")
      var more = true
      while (more) {
        val pk = peek
        if (pk == "*" || pk == "+" || pk == "?") { pop(); setMod(pk.head) }
        else if (pk == "|") {
          // bare alternation: extend the last step's predicate set
          pop()
          val (pt, inv, mod) = steps.remove(steps.size - 1)
          require(mod.isEmpty,
            "Kleene modifier must follow the whole alternation; parenthesize")
          steps += ((AnyOf((altValues(pt) ++ altValues(pathTerm(pop()))).distinct),
            inv, None))
        } else if (pk == "/") { pop(); feedUnit() }
        else if (pk.length > 1 && pk.head == '/') { pop(); feedTok(pk.drop(1), false) }
        else if (pk.length > 1 && "*+".contains(pk.head) && pk(1) == '/') {
          // glued modifier + sequence remainder: `<p>*/q` → token "*/q"
          pop(); setMod(pk.head)
          if (pk.length > 2) feedTok(pk.drop(2), false) else feedUnit()
        } else more = false
      }
      if (steps.size > 1 || steps.exists(t => t._2 || t._3.nonEmpty))
        require(steps.forall(t =>
          t._1.isInstanceOf[Const] || t._1.isInstanceOf[AnyOf] ||
            t._1.isInstanceOf[NotOf]),
          "property paths cannot contain variables (SPARQL 1.1)")
      val oT = deB(term(pop()))
      if (peek == ".") pop()
      val out = scala.collection.mutable.ListBuffer.empty[Pat]
      var cur = sT
      steps.zipWithIndex.foreach { case ((pt, inv, mod), i) =>
        val nxt = if (i == steps.size - 1) oT
          else { pathId += 1; V(s"__path$pathId") }
        mod match {
          case None =>
            out += (if (inv) Pattern(nxt, pt, cur) else Pattern(cur, pt, nxt))
          case Some(m) =>
            out += PathPat(cur, pt, inv,
              zero = m != '+', single = m == '?', nxt)
        }
        cur = nxt
      }
      out.toSeq
    }

    // a brace-delimited BGP group, as used by UNION branches, OPTIONAL,
    // MINUS, and FILTER [NOT] EXISTS blocks; FILTERs inside the braces
    // belong to the block (scope-checked against its own bindings below)
    def braceBlock(): Block = {
      expect("{")
      val b = scala.collection.mutable.ListBuffer.empty[Pat]
      val fs = scala.collection.mutable.ListBuffer.empty[FilterExpr]
      val bs = scala.collection.mutable.ListBuffer.empty[(String, SExpr)]
      val os = scala.collection.mutable.ListBuffer.empty[Block]
      val vs = scala.collection.mutable.ListBuffer.empty[ValuesBlock]
      val es = scala.collection.mutable.ListBuffer.empty[(Boolean, Block)]
      val ms = scala.collection.mutable.ListBuffer.empty[Block]
      while (peek != "}") {
        if (peek.equalsIgnoreCase("FILTER")) {
          pop()
          // in-block FILTER [NOT] EXISTS: a pattern-existence semi-/
          // anti-join on the block frame (§8.1.1, same as top level)
          val negated = peek.equalsIgnoreCase("NOT") && { pop(); true }
          if (negated || peek.equalsIgnoreCase("EXISTS")) {
            expect("EXISTS")
            es += ((!negated, braceBlock()))
          } else {
            require(!negated, "expected EXISTS after FILTER NOT")
            expect("(")
            fs += parseFilter()
            expect(")")
          }
          if (peek == ".") pop()
        } else if (peek.equalsIgnoreCase("BIND")) {
          // BIND inside the block: scoped to the block's own bindings
          pop(); expect("(")
          val e = parseExpr()
          expect("AS")
          val v = pop()
          require(isVar(v), s"BIND needs an ?alias, got '$v'")
          expect(")")
          bs += ((v.drop(1), e))
          if (peek == ".") pop()
        } else if (peek.equalsIgnoreCase("OPTIONAL")) {
          // nested OPTIONAL: LeftJoin evaluated inside the block frame
          pop()
          os += braceBlock()
        } else if (peek.equalsIgnoreCase("MINUS")) {
          // in-block MINUS: §8.3 anti-join on the block frame
          pop()
          ms += braceBlock()
        } else if (peek.equalsIgnoreCase("VALUES")) {
          // in-block VALUES: inline data constraining THIS block (every
          // var must be bound by the block's own patterns)
          pop()
          vs += parseValuesBlock()
        } else b ++= parsePatterns()
      }
      expect("}")
      Block(b.toSeq, fs.toSeq, bs.toSeq, os.toSeq, vs.toSeq, es.toSeq,
        ms.toSeq)
    }

    val unionBranches = scala.collection.mutable.ListBuffer.empty[Block]
    val groupElems = scala.collection.mutable.ListBuffer.empty[GElem]
    val subqueries = scala.collection.mutable.ListBuffer.empty[String]
    val subProjections = scala.collection.mutable.ListBuffer.empty[String]
    if (hasWhere) {
    expect("WHERE"); expect("{")
    while (peek != "}") {
      if (peek == "{" &&
          ts.drop(1).headOption.exists(_.equalsIgnoreCase("SELECT"))) {
        // sub-SELECT (SPARQL 1.1 §12): `{ SELECT … WHERE { … } … }` —
        // the balanced token span is re-parsed as a full query
        // (recursion), evaluated bottom-up at run time and joined with
        // the rest of the group on its PROJECTED variables (only those
        // are visible outside, §12.4). Several subqueries per group
        // fold left-to-right, each joining on its projected vars.
        pop()
        var depth = 1
        val buf = scala.collection.mutable.ListBuffer.empty[String]
        while (depth > 0) {
          val t2 = pop()
          if (t2 == "{") depth += 1
          if (t2 == "}") depth -= 1
          if (depth > 0) buf += t2
        }
        // outer PREFIX declarations stay visible inside the subquery
        // (§4.1.1 — one prologue per query string): re-prepend them as
        // headers so the recursive parse sees the same namespace map
        val subText = (prefixes.map { case (n, iri) => s"PREFIX $n: <$iri>" }
          .toSeq.sorted :+ buf.mkString(" ")).mkString(" ")
        val subQ = parse(subText) // validates eagerly, at parse time
        require(!subQ.ask && subQ.construct.isEmpty && subQ.describe.isEmpty,
          "a subquery must be a SELECT")
        subqueries += subText
        groupElems += GSub(subText)
        subProjections ++= subQ.projection
        if (peek == ".") pop()
      } else if (peek.equalsIgnoreCase("BIND")) {
        // BIND(expr AS ?v) — evaluated once the required patterns,
        // inline data and OPTIONAL blocks are joined (null input =
        // unbound = SPARQL error propagation)
        pop(); expect("(")
        val e = parseExpr()
        expect("AS")
        val v = pop()
        require(isVar(v), s"BIND needs an ?alias, got '$v'")
        expect(")")
        binds += ((v.drop(1), e))
        groupElems += GBind(v.drop(1), e)
        if (peek == ".") pop()
      } else if (peek == "{") {
        // { bgp } UNION { bgp } [UNION { bgp } ...] -- one chain per query
        require(unionBranches.isEmpty, "only one UNION chain is supported")
        unionBranches += braceBlock()
        while (peek.equalsIgnoreCase("UNION")) { pop(); unionBranches += braceBlock() }
        require(unionBranches.size >= 2, "a group block needs at least one UNION")
      } else if (peek.equalsIgnoreCase("FILTER")) {
        pop()
        // FILTER [NOT] EXISTS { patterns } — a pattern-existence test,
        // not a value expression (SPARQL 1.1 §8.1.1)
        val negated = peek.equalsIgnoreCase("NOT") && { pop(); true }
        if (negated || peek.equalsIgnoreCase("EXISTS")) {
          expect("EXISTS")
          val eb = braceBlock()
          existsFilters += ((!negated, eb))
          groupElems += GExists(!negated, eb)
        } else {
          require(!negated, "expected EXISTS after FILTER NOT")
          expect("("); filters += parseFilter(); expect(")")
        }
        if (peek == ".") pop()
      } else if (peek.equalsIgnoreCase("GRAPH")) {
        // GRAPH term { patterns … } (§13.3) — a Join element over one
        // named graph (constant) or the named-graph set (variable)
        pop()
        val gTerm = term(pop())
        require(gTerm.isInstanceOf[V] || gTerm.isInstanceOf[Const],
          s"GRAPH needs an <iri> or ?var, got $gTerm")
        val gb = braceBlock()
        groupElems += GGraph(gTerm, gb)
        if (peek == ".") pop()
      } else if (peek.equalsIgnoreCase("OPTIONAL")) {
        pop()
        val ob = braceBlock()
        optionals += ob
        groupElems += GOpt(ob)
      } else if (peek.equalsIgnoreCase("MINUS")) {
        pop()
        val mb = braceBlock()
        minuses += mb
        groupElems += GMinus(mb)
      } else if (peek.equalsIgnoreCase("VALUES")) {
        // VALUES ?x { v v … } | VALUES (?x ?y) { (v v) (v v) … } —
        // inline data, joined with the group on its variables.
        pop()
        val vb = parseValuesBlock()
        valuesBlocks += vb
        groupElems += GValues(vb)
      } else {
        // a contiguous BGP run is ONE Join element; runs merge so the
        // intra-run patterns stay a single plain equi-join chain
        val ps = parsePatterns()
        patterns ++= ps
        groupElems.lastOption match {
          case Some(GPats(prev)) =>
            groupElems.update(groupElems.size - 1, GPats(prev ++ ps))
          case _ => groupElems += GPats(ps)
        }
      }
    }
    expect("}")
    } // hasWhere
    val order = scala.collection.mutable.ListBuffer.empty[(SExpr, Boolean)]
    val groupBy = scala.collection.mutable.ListBuffer.empty[String]
    val groupExprs = scala.collection.mutable.ListBuffer.empty[(String, SExpr)]
    var grpId = 0
    var trailingValues: Option[ValuesBlock] = None
    var limit: Option[Int] = None
    var offset: Option[Int] = None
    var having: Option[FilterExpr] = None
    def atModifier: Boolean = peek.equalsIgnoreCase("ORDER") ||
      peek.equalsIgnoreCase("LIMIT") || peek.equalsIgnoreCase("OFFSET") ||
      peek.equalsIgnoreCase("HAVING") || peek.equalsIgnoreCase("VALUES")
    while (ts.nonEmpty) {
      val t = pop()
      if (t.equalsIgnoreCase("GROUP")) {
        expect("BY")
        // § GroupCondition: ?var | BuiltInCall | '(' expr (AS ?alias)? ')'
        // — an aliased expression binds a projectable group key; a bare
        // expression groups on a synthesized non-projectable key
        while (ts.nonEmpty && !atModifier) {
          if (peek == "(") {
            pop(); val e = parseExpr()
            val alias =
              if (peek.equalsIgnoreCase("AS")) {
                pop(); val a = pop()
                require(isVar(a), s"GROUP BY … AS needs a ?alias, got '$a'")
                a.drop(1)
              } else { grpId += 1; s"__grp$grpId" }
            expect(")")
            groupExprs += (alias -> e); groupBy += alias
          } else if (exprFns.contains(peek.toUpperCase)) {
            grpId += 1; val alias = s"__grp$grpId"
            groupExprs += (alias -> parseExpr()); groupBy += alias
          } else {
            val v = pop()
            require(isVar(v), s"GROUP BY needs ?vars or (expr), got '$v'")
            groupBy += v.drop(1)
          }
        }
      } else if (t.equalsIgnoreCase("HAVING")) {
        // HAVING (cond) [(cond) …] — §7: filters over the aggregated
        // solutions, referencing group keys and aliases; multiple
        // constraints conjoin (HavingClause ::= 'HAVING' HavingCondition+)
        require(having.isEmpty, "only one HAVING clause is supported")
        expect("(")
        var h = parseFilter()
        expect(")")
        while (ts.nonEmpty && peek == "(") {
          pop(); h = And(h, parseFilter()); expect(")")
        }
        having = Some(h)
      } else if (t.equalsIgnoreCase("ORDER")) {
        expect("BY")
        // §15.1 OrderCondition: (ASC|DESC) BrackettedExpression, a bare
        // ?var, or a constraint expression (bracketed arithmetic / a
        // builtin call) — any scalar expression over the PROJECTED frame
        while (ts.nonEmpty && !atModifier) {
          val n = peek
          if (n.equalsIgnoreCase("ASC") || n.equalsIgnoreCase("DESC")) {
            pop(); expect("("); val e = parseExpr(); expect(")")
            order += ((e, n.equalsIgnoreCase("ASC")))
          } else order += ((parseExpr(), true))
        }
      } else if (t.equalsIgnoreCase("LIMIT")) limit = Some(pop().toInt)
      else if (t.equalsIgnoreCase("OFFSET")) offset = Some(pop().toInt)
      else if (t.equalsIgnoreCase("VALUES")) {
        // trailing ValuesClause (§18.2.4.4): joined with the FINAL
        // solution sequence, after every solution modifier
        require(trailingValues.isEmpty, "only one trailing VALUES clause")
        trailingValues = Some(parseValuesBlock())
      }
      else throw new IllegalArgumentException(s"unexpected trailing token '$t'")
    }
    val graphElems = groupElems.collect { case g: GGraph => g }
    require(!hasWhere || patterns.nonEmpty || unionBranches.nonEmpty ||
      subqueries.nonEmpty || graphElems.nonEmpty,
      "WHERE block needs at least one triple pattern")
    // `__path*` intermediates exist only to chain path steps: invisible
    // to `*` projections and not addressable by name
    val patternVars = ((patterns ++ unionBranches.flatMap(_.pats) ++
      optionals.flatMap(_.pats) ++ graphElems.flatMap(_.b.pats))
      .flatMap(termsOf)
      .collect { case V(n) if !n.startsWith("__path") => n } ++
      valuesBlocks.flatMap(_.vars) ++ subProjections ++
      graphElems.collect { case GGraph(V(n), _) => n }).distinct
    // BIND aliases: no rebinding (SPARQL 1.1 §10.1), expressions may only
    // reference pattern variables and EARLIER aliases
    var bindScope = patternVars
    binds.foreach { case (v, e) =>
      require(!bindScope.contains(v), s"BIND would rebind ?$v")
      varsOfExpr(e).foreach(u => require(bindScope.contains(u),
        s"BIND expression references unbound ?$u"))
      bindScope = bindScope :+ v
    }
    // block-BIND aliases: globally fresh (a collision with any other
    // variable would silently become an equi-join key); OPTIONAL and
    // UNION aliases surface as (possibly null) solution variables,
    // MINUS/EXISTS aliases stay internal to their block
    // UNION branches are alternatives — the SAME alias across branches
    // is the normal per-branch computation (null-padded on union)
    val unionAliases = unionBranches.flatMap(_.binds.map(_._1)).distinct
    val otherAliases = (optionals ++ minuses ++
      existsFilters.map(_._2) ++ graphElems.map(_.b)).flatMap(_.binds.map(_._1))
    val combined = otherAliases ++ unionAliases
    require(combined.distinct.size == combined.size,
      "duplicate block BIND alias")
    combined.foreach(a => require(!bindScope.contains(a),
      s"a block BIND would rebind ?$a"))
    // nested-OPTIONAL vars that the enclosing block does NOT bind must
    // be globally fresh — a collision with any outer variable would
    // silently equi-join on a nullable column (compatibility-semantics
    // divergence); vars shared with the PARENT block are the join keys
    // and are exempt
    def nestedOnly(b: Block): Seq[String] = {
      val own = (b.pats.flatMap(termsOf).collect { case V(n) => n } ++
        b.binds.map(_._1)).toSet
      b.optionals.flatMap { nb =>
        val nbVars = nb.pats.flatMap(termsOf)
          .collect { case V(n) if !n.startsWith("__path") => n } ++
          nb.binds.map(_._1)
        (nbVars ++ nestedOnly(nb)).filterNot(own.contains)
      }.distinct
    }
    // nested-OPTIONAL vars MAY re-use outer pattern vars and appear in
    // several blocks/branches: the §18.3 compatibility joins stratify
    // the resulting maybe-unbound columns on BOTH sides. Only an ALIAS
    // collision stays rejected — the alias's withColumn would silently
    // rebind the nested column.
    val nestedAll = (optionals ++ unionBranches ++ minuses ++
      existsFilters.map(_._2) ++ graphElems.map(_.b)).flatMap(nestedOnly).distinct
    nestedAll.foreach(v => require(
      !binds.map(_._1).contains(v) && !combined.contains(v),
      s"a nested OPTIONAL re-uses alias ?$v (rename one of them)"))
    val known = bindScope ++
      optionals.flatMap(_.binds.map(_._1)) ++ unionAliases ++
      graphElems.flatMap(_.b.binds.map(_._1)) ++
      (optionals ++ unionBranches ++ graphElems.map(_.b))
        .flatMap(nestedOnly).distinct
    describeTerms.foreach {
      case V(n) => require(known.contains(n), s"unknown variable ?$n")
      case _ => ()
    }
    // aliased GROUP BY expression keys are projectable like plain keys
    val aliases = aggs.map(_.alias) ++ selExprs.map(_._1) ++
      groupExprs.map(_._1)
    require(!star || selExprs.isEmpty,
      "SELECT * cannot be combined with projection expressions")
    val projection: scala.collection.immutable.Seq[String] =
      if (star || proj.isEmpty) known.toList else proj.toList
    projection.filterNot(aliases.contains)
      .foreach(v => require(known.contains(v), s"unknown variable ?$v"))
    // § SelectExpr scope: left-to-right, no rebinds; over an aggregated
    // query the expressions run AFTER grouping, so only group keys,
    // aggregate aliases, and earlier expression aliases are visible
    locally {
      var scope: Seq[String] =
        if (aggs.nonEmpty || groupBy.nonEmpty)
          groupBy.toSeq ++ aggs.map(_.alias)
        else known.toSeq
      selExprs.foreach { case (v, e) =>
        require(!known.contains(v) && !scope.contains(v),
          s"SELECT expression would rebind ?$v")
        varsOfExpr(e).foreach(u => require(scope.contains(u),
          if (aggs.nonEmpty)
            s"a SELECT expression references ?$u, which is neither " +
              "grouped, an aggregate alias, nor an earlier expression alias"
          else s"unknown variable ?$u"))
        scope = scope :+ v
      }
    }
    // trailing VALUES (§18.2.4.3) joins the solution sequence BEFORE
    // the §18.2.5 modifiers — any variable is legal (a var the frame
    // lacks joins as a wildcard column the projection then drops)
    trailingValues.foreach { _ =>
      require(form == "SELECT",
        "a trailing VALUES clause is only supported on SELECT queries")
    }
    // ORDER BY scope (§18.2.5 orders BEFORE projection): any result
    // frame variable for a plain SELECT; a SELECT DISTINCT may only
    // order by PROJECTED variables (the §15.1 restriction — distinct
    // runs after projection and would destroy a richer order)
    val sortScope: Set[String] =
      if (distinct) projection.toSet
      else if (aggs.nonEmpty || groupBy.nonEmpty)
        (groupBy ++ aggs.map(_.alias) ++ selExprs.map(_._1)).toSet
      else known.toSet ++ selExprs.map(_._1)
    order.foreach { case (e, _) => varsOfExpr(e).foreach(v =>
      require(sortScope.contains(v),
        if (distinct)
          s"ORDER BY references ?$v: SELECT DISTINCT may only order by " +
            "projected variables (SPARQL 1.1 §15.1)"
        else s"ORDER BY references ?$v, which the result frame does not bind")) }
    aggs.flatMap(_.arg).flatMap(varsOfExpr)
      .foreach(v => require(known.contains(v), s"unknown variable ?$v"))
    // GROUP BY expression keys: the expression reads the pre-agg frame;
    // an explicit alias must be fresh (no rebinding, §11.4 discipline)
    val grpAliases = groupExprs.map(_._1).toSet
    require(grpAliases.size == groupExprs.size,
      "duplicate GROUP BY expression alias")
    groupExprs.foreach { case (a, e) =>
      require(!known.contains(a) && !aggs.map(_.alias).contains(a) &&
        !selExprs.map(_._1).contains(a),
        s"GROUP BY expression would rebind ?$a")
      varsOfExpr(e).foreach(v =>
        require(known.contains(v), s"unknown variable ?$v"))
    }
    groupBy.filterNot(grpAliases.contains)
      .foreach(v => require(known.contains(v), s"unknown variable ?$v"))
    if (aggs.nonEmpty || groupBy.nonEmpty)
      projection.filterNot(aliases.contains).foreach(v =>
        require(groupBy.contains(v), s"?$v is projected but not in GROUP BY"))
    template.flatMap(p => Seq(p.s, p.p, p.o)).collect { case V(n) => n }
      .foreach(v => require(known.contains(v), s"unknown template variable ?$v"))
    having.foreach { h =>
      require(aggs.nonEmpty || groupBy.nonEmpty,
        "HAVING needs a grouped query")
      varsOfFilter(h).foreach(v =>
        require(groupBy.contains(v) || aliases.contains(v),
          s"HAVING references ?$v, which is neither grouped nor an " +
            "aggregate alias"))
    }
    // in-block FILTER scope: a filter over the block's OWN bindings
    // (incl. nested-OPTIONAL vars) applies at block end; one referencing
    // an ENCLOSING-scope var is the three-argument LeftJoin condition
    // (§18.2.2.3) / correlated EXISTS — legal for OPTIONAL and EXISTS
    // blocks (compiled into the join by condJoin), rejected for UNION
    // branches and MINUS (whose §8.3 evaluation is uncorrelated)
    def checkBlock(b: Block, ctx: String, outer: Set[String]): Unit = {
      val allowCross = ctx.startsWith("OPTIONAL") ||
        ctx.startsWith("nested OPTIONAL") || ctx.startsWith("EXISTS")
      var bound = b.pats.flatMap(termsOf).collect { case V(n) => n }.toSet
      // in-block VALUES may only CONSTRAIN the block's own bindings —
      // a fresh inline var inside a block would widen the block schema
      b.values.foreach(_.vars.foreach(v => require(bound.contains(v),
        s"a VALUES inside a $ctx block references ?$v, which the block " +
          "does not bind")))
      // block BINDs read the block's own bindings and earlier aliases
      b.binds.foreach { case (v, e) =>
        require(!bound.contains(v), s"a BIND inside a $ctx block would rebind ?$v")
        varsOfExpr(e).foreach(u => require(bound.contains(u),
          s"a BIND inside a $ctx block references ?$u, which the block " +
            "does not bind"))
        bound = bound + v
      }
      // full recursive surface — the same locality set splitFilters
      // uses at execution time
      val surface = bound ++ blockSurface(b)
      b.filters.foreach(f => varsOfFilter(f).foreach(v =>
        require(surface.contains(v) || (allowCross && outer.contains(v)),
          s"a FILTER inside a $ctx block references ?$v, which " +
            (if (allowCross) "neither the block nor the enclosing scope binds"
             else "the block does not bind"))))
      b.optionals.foreach(checkBlock(_, s"nested OPTIONAL (in $ctx)",
        outer ++ surface))
      // in-block EXISTS / MINUS keys that may be unbound in the
      // enclosing block (BIND aliases, nested-OPTIONAL bindings) run
      // through the §18.3 compatibility join at execution time
      b.existsBlocks.foreach { case (eb0, eb) =>
        val _ = eb0; checkBlock(eb, s"EXISTS (in $ctx)", outer ++ surface) }
      b.minusBlocks.foreach(checkBlock(_, s"MINUS (in $ctx)", outer ++ surface))
    }
    val topScope = known.toSet
    graphElems.foreach { ge =>
      checkBlock(ge.b, "GRAPH", topScope)
      if (ge.g.isInstanceOf[V]) {
        // a Kleene fixpoint is evaluated over ONE pre-restricted graph
        // view; with a graph VARIABLE the per-graph scoping would need
        // the fixpoint per named graph — reject rather than mis-answer
        def noPaths(b: Block): Unit = {
          require(!b.pats.exists(_.isInstanceOf[PathPat]),
            "property paths inside GRAPH ?var are unsupported (pin the " +
              "graph: GRAPH <iri>)")
          b.optionals.foreach(noPaths); b.minusBlocks.foreach(noPaths)
          b.existsBlocks.foreach(e => noPaths(e._2))
        }
        noPaths(ge.b)
      }
    }
    unionBranches.foreach(checkBlock(_, "UNION", topScope))
    optionals.foreach(checkBlock(_, "OPTIONAL", topScope))
    minuses.foreach(checkBlock(_, "MINUS", topScope))
    existsFilters.foreach { case (_, b) => checkBlock(b, "EXISTS", topScope) }
    if (constructWhere) {
      // §10.2.3 allows only a basic graph pattern in the shorthand form
      require(unionBranches.isEmpty && optionals.isEmpty && minuses.isEmpty &&
        existsFilters.isEmpty && filters.isEmpty && binds.isEmpty &&
        valuesBlocks.isEmpty && subqueries.isEmpty,
        "CONSTRUCT WHERE allows only triple patterns (SPARQL 1.1 §10.2.3)")
      patterns.foreach {
        case p @ Pattern(_, Const(_) | V(_), _) => template += p
        case _ => throw new IllegalArgumentException(
          "CONSTRUCT WHERE allows only plain triple patterns " +
            "(no property paths or predicate sets)")
      }
    }
    Query(distinct, projection, aggs.toList, groupBy.toList,
      patterns.toSeq, unionBranches.toList, optionals.toSeq,
      filters.toSeq, order.toSeq, limit,
      ask = form == "ASK", construct = template.toList,
      minuses = minuses.toList, existsFilters = existsFilters.toList,
      valuesBlocks = valuesBlocks.toList, offset = offset,
      binds = binds.toList, describe = describeTerms.toList,
      having = having, subqueries = subqueries.toList,
      selectExprs = selExprs.toList, groupExprs = groupExprs.toList,
      trailingValues = trailingValues, groupElems = groupElems.toList,
      fromGraphs = fromGraphs.toList, fromNamed = fromNamed.toList)
  }

  // ----- Execution ---------------------------------------------------------
  /** Constant/alternation terms filter their column; variables project
    * it under their name (repeated variables constrain equality). The
    * shared tail of triple-pattern and Kleene-pair evaluation. */
  private def bindVars(df0: DataFrame, bindings: Seq[(String, Term)]): DataFrame = {
    var df = df0
    bindings.foreach { case (c, t) => t match {
      case Const(v) => df = df.where(col(c) === v)
      case AnyOf(vs) => df = df.where(col(c).isin(vs: _*))
      // negated property set !p / !(p1|p2): the predicate column is
      // never null, so NOT-isin is a plain scan filter (inverse members
      // are split off into an endpoint-swapped scan by patFrame before
      // this point)
      case NotOf(vs, Seq()) => df = df.where(!col(c).isin(vs: _*))
      case NotOf(_, _) => throw new IllegalStateException(
        "inverse negated-set members must be split before bindVars")
      case V(_) => ()
    } }
    val varCols = bindings.collect { case (c, V(n)) => (c, n) }
    varCols.groupBy(_._2).values.filter(_.size > 1).foreach { dup =>
      dup.sliding(2).foreach { case Seq((a, _), (b, _)) => df = df.where(col(a) === col(b)) }
    }
    val proj = varCols.map(_._2).distinct.map { n =>
      col(varCols.find(_._2 == n).get._1).as(n)
    }
    if (proj.isEmpty) df.select(lit(1).as("__const")).limit(1) else df.select(proj: _*)
  }

  /** One triple pattern → constant-filtered scan projected to its
    * variables (repeated variables constrain equality in-pattern).
    * Inside `GRAPH ?g` the quad frame's g column binds the graph var —
    * every pattern of the block carries it, so the block's natural
    * equi-joins pin all patterns to ONE named graph (§13.3). */
  private def patternFrame(triples: DataFrame, pat: Pattern,
                           gVar: Option[String] = None): DataFrame =
    bindVars(triples, gVar.map(n => "g" -> (V(n): Term)).toSeq ++
      Seq("s" -> pat.s, "p" -> pat.p, "o" -> pat.o))

  /** Fixpoint safety cap: semi-naive expansion adds ≥1 hop per round,
    * so this bounds the path length explored. Real RDF hierarchies are
    * shallow; exceeding the cap throws rather than under-answers. */
  private val MaxPathHops = 64

  /**
   * Kleene path evaluation (SPARQL 1.1 §18.4 ArbitraryLengthPath):
   * DISTINCT endpoint pairs connected by ≥1 (`+`) / ≥0 (`*`) / ≤1 (`?`)
   * hops over the constant predicate set.
   *
   * Regimes, picked by the binding shape:
   *  - constant endpoint → frontier BFS over the node SET (linear in
   *    edges × diameter; the 100 TB path — the closure never
   *    materializes);
   *  - variable–variable → semi-naive pair closure (worst-case
   *    quadratic output, inherent to the query itself);
   *  - `?` → no iteration at all (the one-hop frame union zero-length).
   *
   * Each round is a [[graft.algorithms.Fixpoint]] round: the frontier is
   * checkpointed (eager, ContextCleaner-managed) to cut the iterative
   * lineage, and its size, counted in the same job, stops the rounds at
   * the first empty frontier.
   * Zero-length solutions: a constant endpoint pairs with itself; a
   * variable pair binds every term of the graph (subject∪object).
   */
  private def kleeneFrame(triples: DataFrame, pp: PathPat): DataFrame = {
    // the one-hop edge set of the step term: constant/alternation →
    // isin scan; negated set → NOT-isin scan (inverse members add the
    // endpoint-swapped complement half, §9.1's PathOneInPropertySet
    // split — same shape as patFrame's non-Kleene handling)
    val fwd0 = pp.step match {
      case Const(v) => triples.where(col("p") === v)
        .select(col("s").as("a"), col("o").as("b"))
      case AnyOf(vs) => triples.where(col("p").isin(vs: _*))
        .select(col("s").as("a"), col("o").as("b"))
      case NotOf(vs, Seq()) => triples.where(!col("p").isin(vs: _*))
        .select(col("s").as("a"), col("o").as("b"))
      case NotOf(vs, inv) =>
        val f = if (vs.nonEmpty)
          Seq(triples.where(!col("p").isin(vs: _*))
            .select(col("s").as("a"), col("o").as("b"))) else Nil
        (f :+ triples.where(!col("p").isin(inv: _*))
          .select(col("o").as("a"), col("s").as("b")))
          .reduceLeft(_ unionByName _)
      case other => throw new IllegalArgumentException(
        s"unsupported Kleene step term $other")
    }
    val stepRaw = if (pp.inverse) fwd0.select(col("b").as("a"), col("a").as("b"))
                  else fwd0
    val stepPlan = stepRaw.distinct()
    // adaptive local regime (the GraphAlgorithms fastRP/BLP pattern):
    // each distributed round costs an eager checkpoint of the frontier
    // and one of the reached set — pure iteration floor once the one-hop
    // step set fits the driver. The
    // closure is DISTINCT string-pair set algebra (no floats, no
    // ordering), so the replay is trivially exact; the var–var case
    // aborts back to the distributed rounds if the closure outgrows a
    // hard cap (its output is inherently worst-case quadratic in the
    // step set, which the input gate alone cannot bound). The gate is
    // one probe of the RAW pre-distinct step rows (raw ≥ distinct), which
    // also loads them, so a large store never pays a distinct-and-collect
    // — measured 7× on the sf10 path rows before the raw gate.
    // 200k, not the 2M of the batch-graph regimes: the step filter scans
    // the WHOLE derived triple-store union, so every extra pass is a
    // full-store scan, and a near-gate single-threaded closure loses to
    // the 32-core fixpoint (sf10 A/B: local at 1.5M step pairs read
    // ~13 s/run vs ~5.4 distributed; at ≤200k the local replay wins)
    localKleene(triples, pp, stepRaw, 200000L).foreach(pairs =>
      return bindVars(pairs, Seq("a" -> pp.s, "b" -> pp.o)))
    val (step, stepCnt) = Fixpoint.materialize(stepPlan)

    // expand `start` (`startCnt` rows) hop by hop along `edges`, each hop
    // dropping the rows already reached; works for pair frames (a, b) and
    // set frames (b) alike
    def grow(edges: DataFrame, start: DataFrame, startCnt: Long,
             keyCols: Seq[String]): DataFrame =
      Fixpoint.run((start, start), if (startCnt == 0) 0 else MaxPathHops) {
        case ((acc, frontier), hops) =>
          require(hops < MaxPathHops,
            s"property-path fixpoint exceeded $MaxPathHops hops")
          Fixpoint.Round(frontier.withColumnRenamed("b", "__mid")
            .join(edges.withColumnRenamed("a", "__mid"), Seq("__mid"))
            .drop("__mid").distinct()
            .join(acc, keyCols, "left_anti")) { (next, n) =>
            if (n == 0) (acc, frontier) else (acc.unionByName(next).localCheckpoint(true), next)
          }
      }._1._1

    val sess = triples.sparkSession
    import sess.implicits._
    def constRow(v: String): DataFrame = Seq((v, v)).toDF("a", "b")
    def zeroPairs(): DataFrame = (pp.s, pp.o) match {
      case (Const(c), _) => constRow(c)
      case (_, Const(c)) => constRow(c)
      case _ => // every term of the graph, paired with itself
        triples.select(col("s").as("x"))
          .unionByName(triples.select(col("o").as("x"))).distinct()
          .select(col("x").as("a"), col("x").as("b"))
    }

    val pairs: DataFrame =
      if (pp.single) {
        if (pp.zero) step.unionByName(zeroPairs()).distinct() else step
      } else (pp.s, pp.o) match {
        case (Const(c), _) =>
          val (seed, seedCnt) = Fixpoint.materialize(
            step.where(col("a") === c).select(col("b")).distinct())
          val reach = grow(step, seed, seedCnt, Seq("b"))
            .select(lit(c).as("a"), col("b"))
          if (pp.zero) reach.unionByName(zeroPairs()).distinct() else reach
        case (_, Const(c)) =>
          // who REACHES c: BFS over the reversed step relation
          val rev = step.select(col("b").as("a"), col("a").as("b"))
          val (seed, seedCnt) = Fixpoint.materialize(
            rev.where(col("a") === c).select(col("b")).distinct())
          val reach = grow(rev, seed, seedCnt, Seq("b"))
            .select(col("b").as("a"), lit(c).as("b"))
          if (pp.zero) reach.unionByName(zeroPairs()).distinct() else reach
        case _ =>
          val closure = grow(step, step, stepCnt, Seq("a", "b"))
          if (pp.zero) closure.unionByName(zeroPairs()).distinct() else closure
      }
    bindVars(pairs, Seq("a" -> pp.s, "b" -> pp.o))
  }

  /** Driver-side replay of [[kleeneFrame]]'s small regime — identical
    * set semantics over the one-hop step rows, gated and loaded by one
    * probe of `stepRaw` and read as a [[LocalGraph]] multigraph (not a
    * simple one: `<a> p+ ?o` must see a's self-loop). None on gate
    * overflow (step rows, term set for the var–var zero case, or a
    * var–var closure that outgrows the pair cap). */
  private def localKleene(triples: DataFrame, pp: PathPat,
                          stepRaw: DataFrame, lt: Long): Option[DataFrame] = {
    val pairCap = 8000000
    val stepRows = GraphAlgorithms.collectRowsGated(stepRaw, lt).getOrElse(return None)
    if (stepRows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val g = LocalGraph.multi(stepRows, StringType)
    // the solutions as (a, b) index pairs, each once, in first-seen order
    def pair(a: Int, b: Int): Long = (a.toLong << 32) | b
    val pairSet = scala.collection.mutable.LinkedHashSet.empty[Long]
    // the vertices ≥ 1 hop from s over adj, in BFS order: each hop's
    // frontier is the run of `order` the previous hop appended
    def reach(s: Int, adj: LocalGraph.Csr): Seq[Int] = {
      val seen = new Array[Boolean](g.n)
      val order = scala.collection.mutable.ArrayBuffer.empty[Int]
      def visit(x: Int): Unit = adj.foreach(x)(y => if (!seen(y)) { seen(y) = true; order += y })
      visit(s)
      var (lo, hops) = (0, 1)
      while (lo < order.length) {
        require(hops < MaxPathHops,
          s"property-path fixpoint exceeded $MaxPathHops hops")
        val hi = order.length
        (lo until hi).foreach(i => visit(order(i)))
        lo = hi
        hops += 1
      }
      order.toSeq
    }
    def stepPairs = g.src.indices.iterator.map(e => pair(g.src(e), g.dst(e)))
    if (pp.single) pairSet ++= stepPairs
    else (pp.s, pp.o) match {
      case (Const(c), _) =>
        g.idx.get(c).foreach(s => reach(s, g.out).foreach(b => pairSet += pair(s, b)))
      case (_, Const(c)) =>
        g.idx.get(c).foreach(s => reach(s, g.in).foreach(a => pairSet += pair(a, s)))
      case _ =>
        // semi-naive pair closure with the hard cap
        pairSet ++= stepPairs
        var frontier = pairSet.toSeq
        var hops = 1
        while (frontier.nonEmpty) {
          require(hops < MaxPathHops,
            s"property-path fixpoint exceeded $MaxPathHops hops")
          val next = scala.collection.mutable.LinkedHashSet.empty[Long]
          frontier.foreach { p =>
            g.out.foreach(p.toInt) { c2 =>
              val q = pair((p >>> 32).toInt, c2)
              if (!pairSet(q)) next += q
            }
          }
          if (pairSet.size + next.size > pairCap) return None
          pairSet ++= next
          frontier = next.toSeq
          hops += 1
        }
    }
    // zero-length solutions: a constant endpoint pairs with itself; a
    // variable pair binds every term of the graph (subject ∪ object)
    val zero: Seq[Any] = if (!pp.zero) Nil else (pp.s, pp.o) match {
      case (Const(c), _) => Seq(c)
      case (_, Const(c)) => Seq(c)
      case _ =>
        GraphAlgorithms.collectRowsGated(triples.select(col("s").as("x"))
            .unionByName(triples.select(col("o").as("x"))).distinct(), lt)
          .getOrElse(return None).toSeq.filter(!_.isNullAt(0)).map(_.get(0))
    }
    val rows = pairSet.toSeq.map(p => Row(g.ids((p >>> 32).toInt), g.ids(p.toInt))) ++
      zero.filterNot(x => g.idx.get(x).exists(i => pairSet(pair(i, i)))).map(x => Row(x, x))
    Some(LocalGraph.frame(triples.sparkSession, Seq("a" -> StringType, "b" -> StringType), rows))
  }

  private def patFrame(triples: DataFrame, p: Pat,
                       gVar: Option[String] = None): DataFrame = p match {
    // mixed negated property set !(p…|^q…) — SPARQL 1.1 §9.1 splits it
    // into the forward half (s NOT-isin-p o) and the endpoint-swapped
    // inverse half (o NOT-isin-q s), bag-unioned; either half may be
    // empty. Both halves project the same variable set, so the union
    // is by name.
    case Pattern(s, NotOf(fwd, inv), o) if inv.nonEmpty =>
      val parts =
        (if (fwd.nonEmpty)
          Seq(patternFrame(triples, Pattern(s, NotOf(fwd), o), gVar)) else Nil) ++
        Seq(patternFrame(triples, Pattern(o, NotOf(inv), s), gVar))
      val u = parts.reduceLeft(_ unionByName _)
      // a fully-constant pattern reduces to one existence row
      if (u.columns.sameElements(Array("__const"))) u.limit(1) else u
    case tp: Pattern => patternFrame(triples, tp, gVar)
    case kp: PathPat =>
      require(gVar.isEmpty,
        "property paths inside GRAPH ?var are unsupported")
      kleeneFrame(triples, kp)
  }

  private def joinAll(triples: DataFrame, pats: Seq[Pat],
                      gVar: Option[String] = None,
                      prune: Option[(String, DataFrame => DataFrame)] = None,
                      cache: Map[Pat, DataFrame] = Map.empty)
      : DataFrame =
    pats.map { p =>
      // `cache` holds property-path closures the top-k pushdown already
      // materialized (checkpointed) in phase A — never compute one twice
      val f = cache.getOrElse(p, patFrame(triples, p, gVar))
      prune match {
        case Some((v, fn)) if f.columns.contains(v) => fn(f)
        case _ => f
      }
    }.reduceLeft { (acc, next) =>
      val shared = acc.columns.toSeq.intersect(next.columns.toSeq)
      if (shared.isEmpty) acc.crossJoin(next) // disjoint BGP components
      else acc.join(next, shared)
    }

  // ----- BGP top-k pushdown (ORDER BY + LIMIT over a conjunctive BGP) -------

  /**
   * SPARQL twin of the Cypher planner's anchored top-k pushdown: for
   * `SELECT ... WHERE { <acyclic conjunctive BGP> } ORDER BY f(?v)
   * [, ...] LIMIT k`, the full BGP join materializes every solution
   * before the TakeOrderedAndProject keeps k — output-quadratic shapes
   * pay n² for a k-row answer. The top-k solutions can only come from
   * ?v bindings among the k best that appear in ≥1 FULL solution, so:
   *
   *  - phase A computes exactly π_v(BGP join) WITHOUT the join product:
   *    a Yannakakis upward semi-join pass over a GYO-built join tree
   *    (acyclic patterns only — a cyclic hypergraph bails, since a
   *    semireduction there overestimates the matched set and an
   *    overestimate makes the threshold too SMALL, i.e. wrong answers).
   *    The k-th best f value among the matched ?v, as a broadcast
   *    1-row `__kth` frame;
   *  - phase B filters every pattern frame binding ?v by `f <= __kth`
   *    (ties kept via <=; pattern-bound vars are never null) inside
   *    [[joinAll]] — the join intermediates shrink before they grow.
   *
   * Single-variable FILTERs fold into phase A (the matched set must see
   * every constraint the query applies — a missed filter would
   * overestimate it); multi-variable FILTERs bail. Patterns in OTHER
   * connected components only matter through emptiness, which the
   * threshold's null guard already covers — they are ignored in
   * phase A. Returns the (?v, frame-transform) pair for [[joinAll]],
   * or None when the shape doesn't qualify.
   */
  private def bgpTopKPrune(q: Query, t: DataFrame)
      : Option[(String, DataFrame => DataFrame, Map[Pat, DataFrame])] = {
    val shapeOk = q.groupElems.size == 1 &&
      q.groupElems.head.isInstanceOf[GPats] &&
      q.unionBranches.isEmpty && !q.ask &&
      q.aggregates.isEmpty && q.groupBy.isEmpty && q.groupExprs.isEmpty &&
      q.having.isEmpty && q.construct.isEmpty && q.describe.isEmpty &&
      q.trailingValues.isEmpty && q.limit.isDefined && q.orderBy.nonEmpty
    if (!shapeOk) return None
    val k = q.limit.get.toLong + q.offset.getOrElse(0).toLong
    if (k <= 0 || k > 100000) return None
    val pats = q.groupElems.head.asInstanceOf[GPats].pats
    // PathPats are admissible: a path closure is an exact relation over
    // its endpoint vars, so GYO semireduction over it stays sound. Its
    // frame is EXPENSIVE (an eager iterative fixpoint) — it is built at
    // most once, after acyclicity is proven, and shared with phase B
    // through the returned cache.
    val (leadE, asc) = q.orderBy.head
    val sortVars = varsOfExpr(leadE).distinct
    if (sortVars.size != 1) return None
    val v = sortVars.head
    // DISTINCT dedups before the limit: sound because the threshold
    // already counts DISTINCT f values (k of them guarantee ≥ k
    // distinct rows) — provided ?v is projected, so rows with
    // different sort keys cannot collapse
    if (q.distinct && !q.projection.contains(v)) return None
    val varsOfPat: Seq[Set[String]] =
      pats.map(p => termsOf(p).collect { case V(n) => n }.toSet)
    if (!varsOfPat.exists(_.contains(v))) return None
    // FILTER folding: every filter must anchor to one variable
    val filterByVar: Map[String, Seq[FilterExpr]] = {
      val pairs = q.filters.map(f => (varsOfFilter(f).distinct, f))
      if (!pairs.forall { case (vs, _) => vs.size == 1 }) return None
      pairs.groupBy(_._1.head).view.mapValues(_.map(_._2)).toMap
    }
    scala.util.Try {
      // restrict to ?v's connected component (shared-var connectivity)
      var comp = varsOfPat.zipWithIndex.collect {
        case (vs, i) if vs(v) => i }.toSet
      var grew = true
      while (grew) {
        val compVars = comp.flatMap(varsOfPat)
        val next = varsOfPat.zipWithIndex.collect {
          case (vs, i) if vs.intersect(compVars).nonEmpty => i }.toSet
        grew = next.size != comp.size
        comp = next
      }
      val idx = comp.toSeq.sorted
      // raw pattern frames, built once: PathPat closures are eager
      // (kleeneFrame checkpoints its fixpoint) and are handed back to
      // joinAll via the cache so phase B reuses the materialization
      val rawFrames = scala.collection.mutable.Map.empty[Int, DataFrame]
      def rawFrame(i: Int): DataFrame =
        rawFrames.getOrElseUpdate(i, patFrame(t, pats(i)))
      def frame(i: Int): DataFrame = {
        var f = rawFrame(i)
        varsOfPat(i).foreach(u => filterByVar.getOrElse(u, Nil)
          .foreach(fl => f = f.where(compileFilter(fl))))
        f
      }
      // GYO ear removal → join tree (bails on a cycle)
      var alive = idx.toSet
      val treeEdges = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
      var changed = true
      while (alive.size > 1 && changed) {
        changed = false
        val it = alive.toSeq.sorted.iterator
        while (it.hasNext && !changed) {
          val i = it.next()
          val others = alive - i
          val rest = varsOfPat(i).filter(u =>
            others.exists(j => varsOfPat(j)(u)))
          others.find(j => rest.subsetOf(varsOfPat(j))).foreach { w =>
            treeEdges += ((i, w)); alive -= i; changed = true
          }
        }
      }
      require(alive.size == 1, "cyclic BGP — semireduction would be inexact")
      val adj = (treeEdges.toList ++ treeEdges.toList.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val root = idx.find(i => varsOfPat(i)(v)).get
      def reduceFrom(node: Int, from: Int): DataFrame = {
        var f = frame(node)
        adj.getOrElse(node, Nil).filterNot(_ == from).foreach { c =>
          val rc = reduceFrom(c, node)
          val shared = (varsOfPat(node) intersect varsOfPat(c)).toSeq.sorted
          f = if (shared.nonEmpty) f.join(rc, shared, "left_semi")
              else f.join(broadcast(rc.limit(1).select(lit(1).as("__e"))),
                lit(true), "left_semi")
        }
        f
      }
      val fCol = compileExpr(leadE)
      val kth = reduceFrom(root, -1)
        .select(fCol.as("__f")).where(col("__f").isNotNull).distinct()
        .orderBy(if (asc) col("__f").asc else col("__f").desc)
        .limit(k.toInt)
        .agg((if (asc) max(col("__f")) else min(col("__f"))).as("__kth"))
      val prune: DataFrame => DataFrame = { f =>
        val fc = compileExpr(leadE)
        f.crossJoin(broadcast(kth)).where(
          col("__kth").isNull || fc.isNull ||
            (if (asc) fc <= col("__kth") else fc >= col("__kth")))
          .drop("__kth")
      }
      val pathCache: Map[Pat, DataFrame] = rawFrames.toMap.collect {
        case (i, f) if pats(i).isInstanceOf[PathPat] => (pats(i): Pat) -> f
      }
      (v, prune, pathCache)
    }.toOption
  }

  /** A brace group's solutions: its BGP join, filtered by the FILTERs
    * written inside the braces (scope-checked at parse time to the
    * block's own bindings). */
  private def blockFrame(triples: DataFrame, b: Block,
                         gVar: Option[String] = None): DataFrame = {
    var f = joinAll(triples, b.pats, gVar)
    // the block frame's maybe-unbound vars (BIND aliases, nested
    // OPTIONAL bindings, UNDEF inline data) — drives the in-block
    // §18.3 compatibility joins, mirroring `run`
    var maybeNull: Set[String] = Set.empty
    // in-block VALUES constrain the block's own solutions (vars pinned
    // pattern-bound at parse time) — a broadcast compat join (UNDEF
    // rows are unbound on the inline side)
    b.values.foreach { vb =>
      f = joinValues(f, vb, maybeNull)
      maybeNull = mergeNullable(maybeNull, undefVars(vb), vb.vars)
    }
    // block BINDs precede the block FILTERs (a filter may reference an
    // alias); string domain — see [[Block]]
    val blockBindAliases = scala.collection.mutable.Set.empty[String]
    b.binds.foreach { case (v, e) =>
      f = f.withColumn(v, compileExpr(e, col(_),
        if (usesBNode(e))
          Some((solutionKey(f.columns.filterNot(blockBindAliases)), v))
        else None)
        .cast("string"))
      blockBindAliases += v
      maybeNull += v }
    // nested OPTIONALs LeftJoin the block frame bottom-up (§ LeftJoin
    // nesting); a shared var an earlier sibling left unbound extends by
    // compatibility, and a DEEPER-nested binding arriving unbound on
    // the right side does too (stratified compat left join, both sides)
    b.optionals.foreach { nb =>
      val inner = blockFrame(triples, nb, gVar)
      val shared = f.columns.toSeq.intersect(inner.columns.toSeq)
      val innerN = blockNullable(nb)
      // disjoint domains (§18.3: every pairing is compatible) — the
      // LeftJoin degrades to the compatibility product, a broadcast
      // nested-loop bounded by the block frame; with a condition the
      // unmatched lefts null-pad as usual. compatJoin's empty-key
      // paths implement exactly this — just hint the inner broadcast.
      f = compatJoinBoth(f, inner, shared, maybeNull, innerN, "left",
        broadcastRight = shared.isEmpty,
        cond = splitFilters(nb)._2)
      maybeNull = maybeNull ++ (inner.columns.toSeq diff shared) ++
        shared.filter(innerN)
    }
    // in-block FILTER [NOT] EXISTS: semi-/anti-join the block frame —
    // §18.3 compat on maybe-unbound keys (BIND aliases, nested-OPTIONAL
    // bindings), exactly as at top level
    b.existsBlocks.foreach { case (positive, eb) =>
      val e = blockFrame(triples, eb, gVar)
      val shared = f.columns.toSeq.intersect(e.columns.toSeq)
      val cross = splitFilters(eb)._2
      f = if (shared.isEmpty && cross.isEmpty) {
        val any = broadcast(e.limit(1).select(lit(1).as("__e")))
        if (positive) f.join(any, lit(true), "left_semi")
        else f.join(any, lit(true), "left_anti")
      } else compatJoinBoth(f, e, shared, maybeNull, blockNullable(eb),
        if (positive) "left_semi" else "left_anti", cond = cross)
    }
    // in-block MINUS (§8.3): anti-join on the shared variables; with
    // DISJOINT domains MINUS removes nothing — the spec's no-op case
    // (per-solution: the all-shared-null compat stratum survives whole)
    b.minusBlocks.foreach { mb =>
      val m = blockFrame(triples, mb, gVar)
      val shared = f.columns.toSeq.intersect(m.columns.toSeq)
      if (shared.nonEmpty)
        f = compatJoinBoth(f, m, shared, maybeNull, blockNullable(mb), "minus")
    }
    // LOCAL filters only — cross-scope ones become the enclosing
    // join's condition (splitFilters)
    splitFilters(b)._1.foreach(fl => f = f.where(compileFilter(fl)))
    f
  }

  /** Scalar expression → Column over the variable-named solution frame.
    * The value domain is the untyped string literal; arithmetic and
    * STRLEN carry the numeric (double/int) view. `try_cast` encodes
    * SPARQL error propagation: a non-numeric operand in a numeric
    * position evaluates to null = the solution drops out of FILTERs and
    * the BIND alias stays unbound — where ANSI cast would fail the
    * whole query (SPARQL 1.1 §17.2). */
  private def compileExpr(e: SExpr): Column = compileExpr(e, col(_))

  /** Per-solution skolem key (sorted columns, null-marked,
    * \u0001-joined, md5'd) — shared by CONSTRUCT bnode templates and
    * the BNODE() builtin so both replay exactly cross-engine. */
  private def solutionKey(columns: Seq[String]): Column =
    md5(concat_ws("\u0001",
      columns.sorted.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))): _*))

  /** Does the expression call BNODE()? (drives the skolem-context plumb) */
  private def usesBNode(e: SExpr): Boolean = e match {
    case EFn("BNODE", as) => true
    case EFn(_, as) => as.exists(usesBNode)
    case EArith(_, l, r) => usesBNode(l) || usesBNode(r)
    case _ => false
  }

  /** As [[compileExpr]] with a variable RESOLVER — cross-scope filters
    * (LeftJoin / EXISTS conditions) compile over the MERGED binding of
    * an aliased two-sided join, so a bare `col(name)` would be
    * ambiguous; the resolver picks the side that carries each var. */
  private def compileExpr(e: SExpr, resolve: String => Column,
                          skolem: Option[(Column, String)] = None): Column = e match {
    case ETerm(V(n)) => resolve(n)
    case ETerm(Const(v)) => lit(v)
    case ETerm(other) => throw new IllegalArgumentException(
      s"property-set term $other is only valid in the predicate position")
    case EArith(op, l, r) =>
      val a = compileExpr(l, resolve, skolem).try_cast("double")
      val b = compileExpr(r, resolve, skolem).try_cast("double")
      op match {
        case '+' => a + b
        case '-' => a - b
        case '*' => a * b
        case '/' => a / b
      }
    case EFn(name, args) =>
      def arg(i: Int): Column = compileExpr(args(i), resolve, skolem)
      name match {
        // §17.4.2.9 BNODE: a fresh blank node per solution (no-arg —
        // salted by the receiving alias, so two BINDs differ) or one
        // per distinct string WITHIN a solution (one-arg — no alias
        // salt, so BNODE("x") in two BINDs is the SAME node, the spec's
        // within-solution map). Skolemized over the solution binding,
        // exactly like CONSTRUCT _: templates.
        case "BNODE" =>
          val (key, alias) = skolem.getOrElse(throw new IllegalArgumentException(
            "BNODE() is only available in BIND / SELECT-expression position"))
          if (args.isEmpty)
            concat(lit("_:"), md5(concat(key, lit("\u0002" + alias))))
          else
            concat(lit("_:"), md5(concat(key, lit("\u0003"),
              coalesce(arg(0).cast("string"), lit("\u0000")))))
        case "CONCAT" =>
          concat(args.map(a => compileExpr(a, resolve).cast("string")): _*)
        case "STR" => arg(0).cast("string")
        case "STRLEN" => length(arg(0))
        case "UCASE" => upper(arg(0))
        case "LCASE" => lower(arg(0))
        // SPARQL SUBSTR is 1-based with an optional length — exactly
        // SQL substring
        case "SUBSTR" =>
          val start = arg(1).try_cast("int")
          if (args.size == 3) arg(0).substr(start, arg(2).try_cast("int"))
          else arg(0).substr(start, lit(Int.MaxValue))
        // SPARQL REPLACE is regex-based (fn:replace)
        case "REPLACE" => regexp_replace(arg(0), arg(1), arg(2))
        case "COALESCE" => coalesce(args.map(compileExpr(_, resolve)): _*)
        // fn:substring-before / -after (§17.4.3.7-8): empty string when
        // the needle is absent; STRAFTER of the empty needle is the
        // whole string, STRBEFORE of it the empty string
        case "STRBEFORE" =>
          val (src, sub) = (arg(0), arg(1))
          when(length(sub) === 0, lit(""))
            .when(instr(src, sub) > 0, src.substr(lit(1), instr(src, sub) - 1))
            .otherwise(lit(""))
        case "STRAFTER" =>
          val (src, sub) = (arg(0), arg(1))
          when(length(sub) === 0, src)
            .when(instr(src, sub) > 0,
              src.substr(instr(src, sub) + length(sub), lit(Int.MaxValue)))
            .otherwise(lit(""))
        // numeric builtins (§17.4.4) on the try_cast numeric view;
        // ROUND is half-away-from-zero on both engines
        // §17.4.4.x hash functions over the UTF-8 bytes of the string
        // form — lowercase hex on both engines
        case "MD5" => md5(arg(0).cast("binary"))
        case "SHA1" => sha1(arg(0).cast("binary"))
        case "SHA256" => sha2(arg(0).cast("binary"), 256)
        case "SHA384" => sha2(arg(0).cast("binary"), 384)
        case "SHA512" => sha2(arg(0).cast("binary"), 512)
        // §17.4.2.8: RFC 3986 percent-encoding with unreserved
        // A-Za-z0-9-_.~ — java form-encoding differs on exactly
        // space/'~'/'*', fixed up post-hoc
        case "ENCODE_FOR_URI" =>
          regexp_replace(regexp_replace(regexp_replace(
            url_encode(arg(0).cast("string")),
            lit("\\+"), lit("%20")), lit("%7E"), lit("~")),
            lit("\\*"), lit("%2A"))
        case "ABS" => abs(arg(0).try_cast("double"))
        case "ROUND" => round(arg(0).try_cast("double"), 0)
        case "CEIL" => ceil(arg(0).try_cast("double")).cast("double")
        case "FLOOR" => floor(arg(0).try_cast("double")).cast("double")
        // §17.4.5 datetime accessors, LEXICAL over the xsd:date /
        // xsd:dateTime form (this engine's term model keeps lexical
        // strings — GraphSources.parseRdfTriples drops typed qualifiers
        // exactly like the reference). A non-matching operand yields
        // null = unbound, the spec's type-error propagation; the
        // regexp_extract → try_cast pipeline replays verbatim in any
        // SQL engine.
        case "YEAR" => regexp_extract(arg(0), "^(-?\\d{4,})-", 1).try_cast("int")
        case "MONTH" => regexp_extract(arg(0), "^-?\\d{4,}-(\\d{2})-", 1).try_cast("int")
        case "DAY" =>
          regexp_extract(arg(0), "^-?\\d{4,}-\\d{2}-(\\d{2})", 1).try_cast("int")
        // time accessors anchor to the FULL lexical dateTime prefix
        // (date + 'T'), like TZ: a stray "…T12:" inside a non-dateTime
        // literal is a type error (unbound), not HOURS=12
        case "HOURS" =>
          regexp_extract(arg(0), "^-?\\d{4,}-\\d{2}-\\d{2}T(\\d{2}):", 1).try_cast("int")
        case "MINUTES" =>
          regexp_extract(arg(0), "^-?\\d{4,}-\\d{2}-\\d{2}T\\d{2}:(\\d{2}):", 1).try_cast("int")
        // SECONDS is xsd:decimal — fractional seconds survive
        case "SECONDS" =>
          regexp_extract(arg(0), "^-?\\d{4,}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:(\\d{2}(?:\\.\\d+)?)", 1)
            .try_cast("double")
        // TZ (§17.4.5.8): "Z", "±HH:MM", or "" when no timezone — but a
        // non-datetime operand is still a type error (unbound)
        case "TZ" =>
          when(regexp_extract(arg(0), "^-?\\d{4,}-\\d{2}-\\d{2}", 0) === "",
            lit(null).cast("string"))
            .otherwise(regexp_extract(arg(0), "(Z|[+-]\\d{2}:\\d{2})$", 1))
        // TIMEZONE (§17.4.5.7): the tz as an xsd:dayTimeDuration lexical
        // form — "Z"/±00:00 → PT0S, "+05:30" → PT5H30M, "-08:00" → -PT8H;
        // an operand with NO timezone is a type error (unbound), unlike
        // TZ's "" (the spec's documented difference between the two)
        case "TIMEZONE" =>
          val tz = when(
            regexp_extract(arg(0), "^-?\\d{4,}-\\d{2}-\\d{2}", 0) === "",
            lit(null).cast("string"))
            .otherwise(regexp_extract(arg(0), "(Z|[+-]\\d{2}:\\d{2})$", 1))
          val h = substring(tz, 2, 2).cast("int")
          val m = substring(tz, 5, 2).cast("int")
          when(tz.isNull || tz === "", lit(null).cast("string"))
            .when(tz === "Z" || (h === 0 && m === 0), lit("PT0S"))
            .otherwise(concat(
              when(tz.startsWith("-"), lit("-")).otherwise(lit("")),
              lit("PT"),
              when(h > 0, concat(h.cast("string"), lit("H"))).otherwise(lit("")),
              when(m > 0, concat(m.cast("string"), lit("M"))).otherwise(lit(""))))
        // IRI/URI (§17.4.2.1): in a lexical term model the IRI IS its
        // string form — STR's inverse is the identity
        case "IRI" | "URI" => arg(0).cast("string")
      }
    case EIf(c, t1, t2) =>
      // §17.4.1.2: a type-error (null) condition propagates — the alias
      // stays UNBOUND rather than falling into the ELSE branch, so both
      // arms guard explicitly and a null condition matches neither
      val cond = compileFilter(c, resolve)
      when(cond, compileExpr(t1, resolve)).when(!cond, compileExpr(t2, resolve))
  }

  private def compileFilter(e: FilterExpr): Column = compileFilter(e, col(_))

  private def compileFilter(e: FilterExpr, resolve: String => Column): Column = e match {
    case And(l, r) => compileFilter(l, resolve) && compileFilter(r, resolve)
    case Or(l, r) => compileFilter(l, resolve) || compileFilter(r, resolve)
    case Not(x) => !compileFilter(x, resolve)
    case Cmp(op, l, r, numeric) =>
      def side(e: SExpr): Column =
        if (numeric) compileExpr(e, resolve).try_cast("double")
        else compileExpr(e, resolve)
      val (a, b) = (side(l), side(r))
      op match {
        case "=" => a === b
        case "!=" => a =!= b
        case "<" => a < b
        case "<=" => a <= b
        case ">" => a > b
        case ">=" => a >= b
      }
    case FnCond(fn, args) => fn match {
      case "BOUND" => args.head match {
        case ETerm(V(n)) => resolve(n).isNotNull
        case other => throw new IllegalArgumentException(s"BOUND($other)")
      }
      case "REGEX" =>
        // optional "i" flag → embedded case-insensitivity group, the
        // java.util.regex spelling both engines understand
        val pat0 = compileExpr(args(1), resolve)
        val pat = if (args.size == 3) args(2) match {
          case ETerm(Const(f)) =>
            // only the "i" flag is implemented; silently ignoring
            // s/m/x/q would change match semantics — reject instead
            require(f.forall(_ == 'i'),
              s"""unsupported REGEX flags "$f" (only "i" is supported)""")
            if (f.contains("i")) concat(lit("(?i)"), pat0) else pat0
          case other => throw new IllegalArgumentException(
            s"REGEX flags must be a constant literal, got $other")
        } else pat0
        regexp_like(compileExpr(args(0), resolve), pat)
      case "STRSTARTS" =>
        compileExpr(args(0), resolve).startsWith(compileExpr(args(1), resolve))
      case "STRENDS" =>
        compileExpr(args(0), resolve).endsWith(compileExpr(args(1), resolve))
      case "CONTAINS" =>
        compileExpr(args(0), resolve).contains(compileExpr(args(1), resolve))
      // §17.4.2.4 isNumeric over the untyped string domain: does the
      // binding carry the numeric view? (unbound → false, not error)
      case "ISNUMERIC" =>
        compileExpr(args.head, resolve).try_cast("double").isNotNull
      // §17.4.2.2 isBlank: exact in the lexical term model — every blank
      // node this engine produces (pattern vars, skolemized CONSTRUCT
      // templates, BNODE builtins) carries the "_:" prefix; unbound →
      // null → the solution drops, the error-propagation reading.
      // isIRI/isLiteral stay unimplemented: a lexical model cannot
      // distinguish them (documented divergence).
      case "ISBLANK" =>
        compileExpr(args.head, resolve).startsWith("_:")
      // §17.4.1.8 sameTerm: STRICT term identity — no numeric coercion,
      // unlike `=` which compares "01" = "1" true through the numeric
      // view. In the lexical term model this is exact string equality.
      case "SAMETERM" =>
        compileExpr(args(0), resolve) === compileExpr(args(1), resolve)
    }
    // [NOT] IN over a constant list; on a null (unbound/error) operand
    // both forms yield null → the solution drops, the SPARQL
    // error-propagation reading
    case InList(e, values, negated) =>
      val in = compileExpr(e, resolve).isin(values: _*)
      if (negated) !in else in
  }

  // ----- SPARQL §18.3 solution-compatibility joins --------------------------

  /** Strata cap for compatibility joins: a join over k maybe-unbound
    * shared variables enumerates 2^k null-masks. k is a STATIC property
    * of the query text (vars introduced by OPTIONAL / BIND / UNION
    * padding / UNDEF), never of the data — real queries have k ≤ 2. */
  private val MaxNullableJoinVars = 4

  /**
   * SPARQL 1.1 §18.3 compatibility join. Solutions μ (rows of `left`)
   * and μ' (rows of `right`) combine when they agree on every variable
   * bound in BOTH — an unbound (null) variable is compatible with any
   * binding, and the merge μ ∪ μ' adopts the bound side's value. A
   * plain equi-join on null-padded columns diverges exactly there (SQL
   * nulls never compare equal), so this stratifies `left` by the
   * null-mask of its maybe-unbound shared variables (`leftNullable` —
   * a static property of the query: OPTIONAL-introduced vars, BIND
   * aliases, UNION-padded vars): each stratum drops its null columns,
   * equi-joins `right` on the remaining bound keys, and re-selects the
   * canonical output schema (null vars adopt `right`'s binding — the
   * μ ∪ μ' merge). Every stratum is a Catalyst equi-join whose
   * isNull/isNotNull mask filters push into the scan — never a theta
   * or cartesian plan — and the strata union is 2^k branches with k
   * capped at [[MaxNullableJoinVars]].
   *
   * `kind` selects the SPARQL operator:
   *  - `inner`      Join(left, right) — merged solutions
   *  - `left`       LeftJoin — OPTIONAL extension (a stratum with ALL
   *                 shared vars null extends by EVERY μ' when the block
   *                 is non-empty, else survives bare)
   *  - `left_semi`  FILTER EXISTS (all-null stratum → broadcast
   *                 one-row existence probe)
   *  - `left_anti`  FILTER NOT EXISTS
   *  - `minus`      MINUS (§8.3: μ survives when dom(μ)∩dom(μ') = ∅ —
   *                 the all-shared-null stratum is kept whole, the
   *                 documented MINUS / NOT-EXISTS divergence)
   *
   * `right` must bind every shared variable statically; a nullable
   * right side is stratified first by [[compatJoinBoth]].
   */
  /** Aliased two-sided join for a CROSS-SCOPE condition (the third
    * argument of LeftJoin / a correlated EXISTS filter, §18.2.2.3):
    * key equalities AND the condition compiled over the MERGED binding.
    * `preferRight` names vars whose merged value comes from the right
    * side even though the left frame still carries the (all-null)
    * column — the non-dropped null strata of semi/anti joins. */
  private def condJoin(l0: DataFrame, r0: DataFrame, keys: Seq[String],
                       cond: Seq[FilterExpr], joinType: String,
                       outCols: Seq[String],
                       preferRight: Set[String] = Set.empty): DataFrame = {
    val l = l0.as("__cl"); val r = r0.as("__cr")
    val lCols = l0.columns.toSet; val rCols = r0.columns.toSet
    def resolve(v: String): Column =
      if (preferRight(v) && rCols(v)) col(s"__cr.$v")
      else if (lCols(v)) col(s"__cl.$v")
      else if (rCols(v)) col(s"__cr.$v")
      // unbound on both sides (a dropped right-null stratum): the
      // merged binding leaves it unbound — SPARQL error → null
      else lit(null).cast("string")
    val full = (keys.map(k => col(s"__cl.$k") === col(s"__cr.$k")) ++
      cond.map(compileFilter(_, resolve))).foldLeft(lit(true))(_ && _)
    val j = l.join(r, full, joinType)
    if (joinType == "left" || joinType == "inner")
      j.select(outCols.map(c =>
        (if (lCols(c)) col(s"__cl.$c") else col(s"__cr.$c")).as(c)): _*)
    else j // semi/anti: the left schema, unchanged
  }

  private def compatJoin(left: DataFrame, right: DataFrame,
                         shared: Seq[String], leftNullable: Set[String],
                         kind: String, cond: Seq[FilterExpr] = Nil): DataFrame = {
    val nullable = shared.filter(leftNullable)
    val mergedCols = left.columns.toSeq ++
      right.columns.toSeq.filterNot(left.columns.contains)
    if (nullable.isEmpty) {
      return kind match {
        case _ if cond.nonEmpty =>
          condJoin(left, right, shared, cond,
            if (kind == "minus") "left_anti" else kind, mergedCols)
        case "inner" => left.join(right, shared)
        case "minus" =>
          if (shared.isEmpty) left else left.join(right, shared, "left_anti")
        case k => left.join(right, shared, k) // left / left_semi / left_anti
      }
    }
    if (nullable.size > MaxNullableJoinVars)
      return residualCompatJoin(left, right, shared, nullable, kind, cond)
    val merging = kind == "inner" || kind == "left"
    val outCols: Seq[String] =
      if (merging)
        left.columns.toSeq ++ right.columns.toSeq.filterNot(left.columns.contains)
      else left.columns.toSeq
    val strata = (0 until (1 << nullable.size)).map { m =>
      val nullSet = nullable.zipWithIndex.collect {
        case (v, i) if (m & (1 << i)) != 0 => v }
      val boundSet = nullable.filterNot(nullSet.contains)
      val stratum = left.where(
        (nullSet.map(col(_).isNull) ++ boundSet.map(col(_).isNotNull))
          .reduce(_ && _))
      val keys = shared.filterNot(nullSet.contains)
      val joined =
        if (merging) {
          val s2 = stratum.drop(nullSet: _*)
          if (cond.nonEmpty)
            condJoin(s2, right, keys, cond,
              if (kind == "left") "left" else "inner", outCols)
          else if (keys.nonEmpty)
            s2.join(right, keys, if (kind == "left") "left" else "inner")
          else if (kind == "left") s2.join(right, lit(true), "left")
          else s2.crossJoin(right)
        } else if (cond.nonEmpty)
          // the stratum's null vars merge from the RIGHT side — the
          // condition must read them there, not the left's null column
          condJoin(stratum, right, keys, cond,
            if (kind == "minus") "left_anti" else kind, outCols,
            preferRight = nullSet.toSet)
        else if (keys.nonEmpty)
          stratum.join(right, keys, if (kind == "minus") "left_anti" else kind)
        else kind match {
          // dom(μ)∩dom(μ') = ∅ in this stratum: MINUS keeps, EXISTS
          // reduces to a broadcast one-row probe of the block
          case "minus" => stratum
          case k =>
            val any = broadcast(right.limit(1).select(lit(1).as("__e")))
            stratum.join(any, lit(true), k)
        }
      joined.select(outCols.map(col): _*)
    }
    strata.reduceLeft(_ unionByName _)
  }

  /**
   * [[compatJoin]] beyond the 2^[[MaxNullableJoinVars]] strata budget:
   * the first [[MaxNullableJoinVars]] maybe-unbound vars stratify as
   * usual (equi-join keys, pushdown-friendly), the REST ride the join
   * as residual compatibility conditions `l.v IS NULL OR l.v = r.v` on
   * each stratum's equi-join (right binds every shared var statically,
   * so the per-var compat test needs no right-null case). Merged values
   * for residual vars are `coalesce(l.v, r.v)` — the μ ∪ μ' adoption.
   * Strata stay equi-join-led whenever ANY key survives; only the
   * stratum with no bound keys at all degrades to a (stratum-bounded)
   * nested-loop, which is the §18.3-required compatibility product.
   * MINUS keeps §8.3's dom-disjoint survival: a row with EVERY shared
   * var unbound is kept whole, all other rows anti-join.
   */
  private def residualCompatJoin(left: DataFrame, right: DataFrame,
                                 shared: Seq[String], nullable: Seq[String],
                                 kind: String,
                                 cond: Seq[FilterExpr]): DataFrame = {
    val stratVars = nullable.take(MaxNullableJoinVars)
    val residVars = nullable.drop(MaxNullableJoinVars)
    val merging = kind == "inner" || kind == "left"
    val outCols: Seq[String] =
      if (merging)
        left.columns.toSeq ++ right.columns.toSeq.filterNot(left.columns.contains)
      else left.columns.toSeq
    val lCols = left.columns.toSet
    val domNeverDisjoint = (shared.toSet -- nullable).nonEmpty
    val strata = (0 until (1 << stratVars.size)).flatMap { m =>
      val nullSet = stratVars.zipWithIndex.collect {
        case (v, i) if (m & (1 << i)) != 0 => v }
      val boundSet = stratVars.filterNot(nullSet.contains)
      val stratum0 = left.where(
        (nullSet.map(col(_).isNull) ++ boundSet.map(col(_).isNotNull))
          .reduce(_ && _))
      val keys = shared.filterNot(v => nullSet.contains(v) || residVars.contains(v))
      // cross-scope conditions ride the join exactly like the residual
      // compat tests: compiled over the MERGED binding (§18.3 —
      // residual vars read coalesce(l,r), this stratum's null vars read
      // the right side, everything else its binding side)
      val rCols = right.columns.toSet
      def resolve(v: String): Column =
        if (residVars.contains(v) && rCols(v))
          coalesce(col(s"__sl.$v"), col(s"__sr.$v"))
        else if (nullSet.contains(v) && rCols(v)) col(s"__sr.$v")
        else if (lCols(v)) col(s"__sl.$v")
        else if (rCols(v)) col(s"__sr.$v")
        else lit(null).cast("string")
      def joinCond: Column =
        (keys.map(k => col(s"__sl.$k") === col(s"__sr.$k")) ++
          residVars.map(v => col(s"__sl.$v").isNull ||
            col(s"__sl.$v") === col(s"__sr.$v")) ++
          cond.map(compileFilter(_, resolve)))
          .foldLeft(lit(true))(_ && _)
      def mergedSelect(j: DataFrame): DataFrame =
        j.select(outCols.map { c =>
          (if (residVars.contains(c)) coalesce(col(s"__sl.$c"), col(s"__sr.$c"))
           else if (nullSet.contains(c)) col(s"__sr.$c")
           else if (lCols(c)) col(s"__sl.$c")
           else col(s"__sr.$c")).as(c)
        }: _*)
      def aliased(joinType: String): DataFrame =
        stratum0.as("__sl").join(right.as("__sr"), joinCond, joinType)
      kind match {
        case "inner" => Seq(mergedSelect(aliased("inner")))
        case "left" => Seq(mergedSelect(aliased("left")))
        case "left_semi" | "left_anti" =>
          Seq(aliased(kind).select(outCols.map(col): _*))
        case "minus" =>
          // §8.3: μ survives when dom(μ)∩dom(μ') = ∅ — only possible
          // when every shared var is maybe-unbound AND this row binds
          // none of them (all strat vars null + all residual vars null)
          if (domNeverDisjoint || nullSet.size != stratVars.size)
            Seq(aliased("left_anti").select(outCols.map(col): _*))
          else {
            val allResidNull = residVars.map(col(_).isNull)
              .foldLeft(lit(true))(_ && _)
            val kept = stratum0.where(allResidNull)
            val contested = stratum0.where(!allResidNull)
            Seq(kept.select(outCols.map(col): _*),
              contested.as("__sl").join(right.as("__sr"), joinCond, "left_anti")
                .select(outCols.map(col): _*))
          }
      }
    }
    strata.reduceLeft(_ unionByName _)
  }

  /** [[compatJoin]] with a possibly-nullable RIGHT side
    * (`rightNullable`): the right frame is stratified by its own
    * null-mask first (each right stratum drops its null columns and
    * joins on the remaining shared vars — a right-null var keeps the
    * left binding, or stays unbound when both sides are null), each
    * right stratum then running the left-nullable [[compatJoin]].
    * Per-kind combination of the right strata:
    *  - `inner`      bag union of the per-stratum merges (each
    *                 compatible μ' contributes one merged row)
    *  - `left`       union of the per-stratum merges, PLUS the rows no
    *                 stratum matched (sequential compat anti-chain) —
    *                 the exact LeftJoin decomposition
    *  - `left_semi`  peel: each stratum keeps its matches and passes
    *                 the residue on (a row matched by two strata must
    *                 not duplicate)
    *  - `left_anti`  sequential anti-chain (kept ⇔ no stratum matches)
    *  - `minus`      same chain with §8.3 dom-disjoint survival per
    *                 stratum (MINUS over a union block ≡ chained MINUS)
    * `broadcastRight` marks inline/local right sides (VALUES data). */
  private def compatJoinBoth(left: DataFrame, right: DataFrame,
                             shared: Seq[String],
                             leftNullable: Set[String],
                             rightNullable: Set[String],
                             kind: String = "inner",
                             broadcastRight: Boolean = false,
                             cond: Seq[FilterExpr] = Nil): DataFrame = {
    val merging = kind == "inner" || kind == "left"
    val outCols: Seq[String] =
      if (merging)
        left.columns.toSeq ++ right.columns.toSeq.filterNot(left.columns.contains)
      else left.columns.toSeq
    def hint(df: DataFrame): DataFrame = if (broadcastRight) broadcast(df) else df
    val rn = shared.filter(rightNullable)
    if (rn.isEmpty) {
      val j = if (shared.isEmpty && kind == "inner" && cond.isEmpty)
                left.crossJoin(hint(right))
              else compatJoin(left, hint(right), shared, leftNullable, kind, cond)
      return if (merging) j.select(outCols.map(col): _*) else j
    }
    // only the RIGHT-side mask is enumerated here (2^rn frames); any
    // left-nullable count is handled by compatJoin's residual fallback
    require(rn.size <= MaxNullableJoinVars,
      s"compatibility join over ${rn.size} maybe-unbound right-side " +
        s"variables exceeds the 2^$MaxNullableJoinVars strata cap")
    // (right stratum with its null columns dropped, its join keys)
    val strata: Seq[(DataFrame, Seq[String])] =
      (0 until (1 << rn.size)).map { m =>
        val nullSet = rn.zipWithIndex.collect {
          case (v, i) if (m & (1 << i)) != 0 => v }
        val boundSet = rn.filterNot(nullSet.contains)
        val rs = hint(right.where(
          (nullSet.map(col(_).isNull) ++ boundSet.map(col(_).isNotNull))
            .reduce(_ && _)).drop(nullSet: _*))
        (rs, shared.filterNot(nullSet.contains))
      }
    def innerOf(l: DataFrame, rs: DataFrame, keys: Seq[String]): DataFrame =
      (if (keys.isEmpty && cond.isEmpty) l.crossJoin(rs)
       else compatJoin(l, rs, keys, leftNullable, "inner", cond))
        .select(outCols.map(col): _*)
    // "no compatible μ' in this stratum": compat anti; a key-less
    // CONDITION-free stratum matches everything when non-empty
    // (broadcast probe) — with a condition the join must see the rows
    def antiOf(l: DataFrame, rs: DataFrame, keys: Seq[String]): DataFrame =
      if (keys.isEmpty && cond.isEmpty)
        l.join(broadcast(rs.limit(1).select(lit(1).as("__e"))), lit(true), "left_anti")
      else compatJoin(l, rs, keys, leftNullable, "left_anti", cond)
    kind match {
      case "inner" =>
        strata.map { case (rs, keys) => innerOf(left, rs, keys) }
          .reduceLeft(_ unionByName _)
      case "left" =>
        val matched = strata.map { case (rs, keys) => innerOf(left, rs, keys) }
        val rightTypes = right.schema.map(f => f.name -> f.dataType).toMap
        val bare = strata.foldLeft(left) { case (acc, (rs, keys)) =>
          antiOf(acc, rs, keys) }
          .select(outCols.map(c =>
            if (left.columns.contains(c)) col(c)
            else lit(null).cast(rightTypes(c)).as(c)): _*)
        (matched :+ bare).reduceLeft(_ unionByName _)
      case "left_semi" =>
        var residual = left
        val kept = strata.map { case (rs, keys) =>
          val k =
            if (keys.isEmpty && cond.isEmpty)
              residual.join(broadcast(rs.limit(1).select(lit(1).as("__e"))),
                lit(true), "left_semi")
            else compatJoin(residual, rs, keys, leftNullable, "left_semi", cond)
          residual = antiOf(residual, rs, keys)
          k
        }
        kept.reduceLeft(_ unionByName _)
      case "left_anti" =>
        strata.foldLeft(left) { case (acc, (rs, keys)) => antiOf(acc, rs, keys) }
      case "minus" =>
        strata.foldLeft(left) { case (acc, (rs, keys)) =>
          if (keys.isEmpty) acc // dom(μ)∩dom(μ') = ∅ for the whole stratum
          else compatJoin(acc, rs, keys, leftNullable, "minus")
        }
    }
  }

  /** Post-join nullability of the shared variables: a shared var stays
    * maybe-unbound only when BOTH sides can leave it unbound; each
    * side's exclusive vars keep their own nullability. */
  private def mergeNullable(l: Set[String], r: Set[String],
                            shared: Seq[String]): Set[String] =
    (l ++ r) -- shared.filterNot(v => l(v) && r(v))

  /** VALUES vars with at least one UNDEF (null) row — the right-side
    * maybe-unbound set for the inline-data compatibility join. */
  private def undefVars(vb: ValuesBlock): Set[String] =
    vb.vars.zipWithIndex.collect {
      case (v, i) if vb.rows.exists(_(i) == null) => v }.toSet

  /** ALL vars a block can bind (patterns, BINDs, inline data, nested
    * OPTIONALs, recursively) — the filter-locality surface. */
  private def blockSurface(b: Block): Set[String] =
    (b.pats.flatMap(termsOf).collect { case V(n) => n } ++
      b.binds.map(_._1) ++ b.values.flatMap(_.vars)).toSet ++
      b.optionals.flatMap(blockSurface)

  /** Split a block's FILTERs into LOCAL ones (every var block-bound —
    * applied inside [[blockFrame]]) and CROSS-SCOPE ones (referencing
    * an enclosing-scope var — the §18.2.2.3 LeftJoin / correlated
    * EXISTS condition, compiled into the join itself by [[condJoin]]).
    * Parse-time scope checks admit cross-scope filters only for
    * OPTIONAL and EXISTS blocks. */
  private def splitFilters(b: Block): (Seq[FilterExpr], Seq[FilterExpr]) = {
    val surface = blockSurface(b)
    b.filters.partition(f => varsOfFilter(f).forall(surface.contains))
  }

  /** A brace block's maybe-unbound SURFACE vars — BIND aliases, vars
    * introduced only by nested OPTIONALs, UNDEF inline rows — the
    * static right-side nullable set when the block joins an outer
    * frame (mirrors [[blockFrame]]'s internal accumulation). */
  private def blockNullable(b: Block): Set[String] = {
    def surface(x: Block): Set[String] =
      (x.pats.flatMap(termsOf).collect { case V(n) => n } ++
        x.binds.map(_._1) ++ x.values.flatMap(_.vars)).toSet ++
        x.optionals.flatMap(surface)
    val patBound = b.pats.flatMap(termsOf).collect { case V(n) => n }.toSet
    (b.binds.map(_._1).toSet ++
      b.optionals.flatMap(surface) ++
      b.values.flatMap(undefVars)) -- patBound
  }

  /** Join a VALUES block's inline data with the solution frame —
    * a broadcast compatibility join ([[compatJoinBoth]]): UNDEF rows
    * are unbound on the inline side, `leftNullable` carries the
    * frame's maybe-unbound vars. Inline data is a LocalRelation and
    * always the broadcast side. */
  private def joinValues(df: DataFrame, vb: ValuesBlock,
                         leftNullable: Set[String]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(vb.vars.map(v =>
      org.apache.spark.sql.types.StructField(v,
        org.apache.spark.sql.types.StringType)))
    import scala.jdk.CollectionConverters._
    val inline = df.sparkSession.createDataFrame(
      vb.rows.map(r => org.apache.spark.sql.Row(r: _*)).asJava, schema)
    val shared = df.columns.toSeq.intersect(vb.vars)
    if (shared.isEmpty) df.crossJoin(broadcast(inline))
    else compatJoinBoth(df, inline, shared, leftNullable, undefVars(vb),
      broadcastRight = true)
  }

  /** Run a query over a (s, p, o) triple frame — or a (g, s, p, o)
    * QUAD frame (§13 RDF datasets): the g-null rows form the default
    * graph, distinct non-null g values the named graphs; `GRAPH` and
    * the FROM / FROM NAMED dataset clauses then apply. */
  def run(triples: DataFrame, query: String): DataFrame =
    runParsed(triples, parse(query))

  private def runParsed(triples: DataFrame, q: Query): DataFrame = {
    val hasG = triples.columns.contains("g")
    val usesGraph = q.groupElems.exists(_.isInstanceOf[GGraph])
    require(hasG || (q.fromGraphs.isEmpty && q.fromNamed.isEmpty && !usesGraph),
      "GRAPH / FROM need a quad frame (columns g, s, p, o)")
    // default-graph view (§13.2): the g-null rows, or the MERGE of the
    // FROM-listed named graphs when a dataset clause is present
    val t =
      if (!hasG) triples.select(col("s"), col("p"), col("o"))
      else if (q.fromGraphs.nonEmpty)
        triples.where(col("g").isin(q.fromGraphs: _*))
          .select(col("s"), col("p"), col("o"))
      else q.withDefaultGraph match {
        // WITH <g>: that named graph plays the default-graph role for
        // matching; the named set below stays the full store (§3.1.3)
        case Some(w) => triples.where(col("g") <=> lit(w))
          .select(col("s"), col("p"), col("o"))
        case None => triples.where(col("g").isNull)
          .select(col("s"), col("p"), col("o"))
      }
    // the named-graph quad view: FROM NAMED restricts the set; a
    // dataset clause with ONLY FROM leaves the named set EMPTY (§13.2)
    def namedQuads: DataFrame = {
      val base = triples.where(col("g").isNotNull)
        .select(col("g"), col("s"), col("p"), col("o"))
      if (q.fromNamed.nonEmpty) base.where(col("g").isin(q.fromNamed: _*))
      else if (q.fromGraphs.nonEmpty) base.where(lit(false))
      else base
    }
    // UNION chain: bag union of the branch solutions, absent variables
    // null-padded (SPARQL UNION semantics), joined with the remaining
    // top-level BGP on the shared variables when one exists
    val unioned: Option[DataFrame] = if (q.unionBranches.isEmpty) None else {
      val frames = q.unionBranches.map(blockFrame(t, _))
      val allVars = frames.flatMap(_.columns).distinct
      Some(frames.map { f =>
        val padded = allVars.map(v =>
          if (f.columns.contains(v)) col(v) else lit(null).cast("string").as(v))
        f.select(padded: _*)
      }.reduceLeft(_ unionByName _))
    }
    // union-frame vars that can arrive unbound: padded out of a branch,
    // or bound only via in-block BIND / nested OPTIONAL — anything not
    // pattern-bound in EVERY branch (static over the query text)
    val uNullable: Set[String] =
      unioned.map(_.columns.toSeq.filterNot(v => q.unionBranches.forall(
        _.pats.exists(p => termsOf(p).contains(V(v))))).toSet)
        .getOrElse(Set.empty)
    // vars of the CURRENT solution frame that may be unbound (null) —
    // drives every §18.3 compatibility join below
    var maybeNull: Set[String] = Set.empty
    // The union chain (one per group) seeds the solution frame; the
    // ordered group elements then fold LEFT-TO-RIGHT (§18.2.2.6) —
    // Join elements (BGP runs, sub-SELECTs, inline data) via §18.3
    // compatibility inner joins, OPTIONAL via compat LeftJoin, MINUS /
    // FILTER [NOT] EXISTS via compat anti/semi, BIND in place. A
    // DESCRIBE <iri> with no WHERE has no frame at all (df = null
    // until an element seeds it).
    var df: DataFrame = unioned.orNull
    if (unioned.nonEmpty) maybeNull = uNullable
    // BIND aliases created so far — excluded from BNODE skolem keys
    val bindAliases = scala.collection.mutable.Set.empty[String]
    // BGP top-k pushdown (ORDER BY + LIMIT over one acyclic BGP) —
    // None unless the shape qualifies; see bgpTopKPrune
    val bgpPrune = bgpTopKPrune(q, t)
    q.groupElems.foreach {
      case GPats(ps) =>
        val f = joinAll(t, ps,
          prune = bgpPrune.map { case (v, fn, _) => (v, fn) },
          cache = bgpPrune.map(_._3).getOrElse(Map.empty))
        if (df == null) df = f
        else {
          val shared = df.columns.toSeq.intersect(f.columns.toSeq)
          df = if (shared.isEmpty) df.crossJoin(f)
               else compatJoin(df, f, shared, maybeNull, "inner")
          // pattern-bound vars are never null — a maybe-unbound shared
          // var adopts the pattern binding in its null stratum
          maybeNull = maybeNull -- shared
        }
      // Sub-SELECTs (§12): evaluated bottom-up as independent queries,
      // joined on the variables the subquery PROJECTS (its only visible
      // surface, §12.4). A projected var not pattern-bound in the
      // subquery's required patterns (an aggregate / BIND / SELECT-
      // expression alias, an OPTIONAL or UNION-padded binding) can
      // arrive unbound — the compat join stratifies BOTH sides.
      case GSub(subText) =>
        val subQ = parse(subText)
        // the grammar's SubSelect carries no dataset clause of its own;
        // the OUTER query's FROM / FROM NAMED scope the WHOLE query
        // (§13.2) — thread them into the recursive evaluation so a
        // subquery under a dataset clause reads the restricted dataset,
        // not the raw default graph
        require(subQ.fromGraphs.isEmpty && subQ.fromNamed.isEmpty,
          "a subquery may not carry its own dataset clause")
        val sub = runParsed(triples,
          subQ.copy(fromGraphs = q.fromGraphs, fromNamed = q.fromNamed,
            withDefaultGraph = q.withDefaultGraph))
        val subNullable: Set[String] = sub.columns.toSeq.filterNot { v =>
          subQ.patterns.exists(p => termsOf(p).contains(V(v))) ||
            (subQ.unionBranches.nonEmpty &&
              subQ.unionBranches.forall(_.pats.exists(p => termsOf(p).contains(V(v)))))
        }.toSet
        if (df == null) { df = sub; maybeNull = subNullable }
        else {
          val shared = df.columns.toSeq.intersect(sub.columns.toSeq)
          df = if (shared.isEmpty) df.crossJoin(sub)
               else compatJoinBoth(df, sub, shared, maybeNull, subNullable)
          maybeNull = mergeNullable(maybeNull, subNullable, shared)
        }
      case GValues(vb) =>
        if (df == null) {
          val schema = org.apache.spark.sql.types.StructType(vb.vars.map(v =>
            org.apache.spark.sql.types.StructField(v,
              org.apache.spark.sql.types.StringType)))
          import scala.jdk.CollectionConverters._
          df = t.sparkSession.createDataFrame(
            vb.rows.map(r => org.apache.spark.sql.Row(r: _*)).asJava, schema)
          maybeNull = undefVars(vb)
        } else {
          val shared = df.columns.toSeq.intersect(vb.vars)
          df = joinValues(df, vb, maybeNull)
          maybeNull = mergeNullable(maybeNull, undefVars(vb), shared)
        }
      // GRAPH (§13.3): a Join element over one named graph (constant —
      // a pre-restricted triple view, full block algebra incl. paths)
      // or the named-graph set (variable — every pattern binds the g
      // column, so the block's equi-joins pin one graph per solution
      // and ?g surfaces as a solution variable)
      case GGraph(gTerm, block) =>
        val frame = gTerm match {
          case Const(iri) =>
            blockFrame(namedQuads.where(col("g") === iri)
              .select(col("s"), col("p"), col("o")), block)
          case V(gv) => blockFrame(namedQuads, block, gVar = Some(gv))
          case other => throw new IllegalArgumentException(s"GRAPH $other")
        }
        val gN = blockNullable(block)
        if (df == null) { df = frame; maybeNull = gN }
        else {
          val shared = df.columns.toSeq.intersect(frame.columns.toSeq)
          df = if (shared.isEmpty) df.crossJoin(frame)
               else compatJoinBoth(df, frame, shared, maybeNull, gN)
          maybeNull = mergeNullable(maybeNull, gN, shared)
        }
      case GOpt(block) =>
        require(df != null, "OPTIONAL cannot start a group")
        val opt = blockFrame(t, block)
        val shared = df.columns.toSeq.intersect(opt.columns.toSeq)
        // shared.isEmpty (disjoint domains): §18.3 makes every pairing
        // compatible — compatJoin's empty-key path yields the
        // compatibility product (broadcast nested-loop, null-pad when
        // the block is empty or the condition finds no partner)
        // §18.3 LeftJoin, both sides maybe-unbound: a solution whose
        // shared var is unbound (an earlier OPTIONAL missed, a UNION
        // branch padded it) is extended by every compatible block row;
        // a block row whose shared var is unbound (bound only inside a
        // NESTED optional / BIND) extends by compatibility too
        val optN = blockNullable(block)
        df = compatJoinBoth(df, opt, shared, maybeNull, optN, "left",
          broadcastRight = shared.isEmpty,
          cond = splitFilters(block)._2)
        maybeNull = maybeNull ++ (opt.columns.toSeq diff shared) ++
          shared.filter(optN)
      // BIND sees only the group-so-far (§18.2.2.5 scope): an alias
      // referencing a variable no prior element binds is UNBOUND (the
      // spec reading), not an analysis error; a null input likewise
      // propagates to an unbound alias
      case GBind(v, e) =>
        require(df != null, "BIND cannot start a group")
        val have = df.columns.toSet
        // §18.2.2.5 evaluates with frame-missing variables UNBOUND
        // (null), erroring only where the expression propagates the
        // error — so BIND(COALESCE(?missing, "d") AS ?y) yields "d",
        // and BOUND(?missing) is false, not a dropped alias
        // BNODE skolem identity: the PATTERN-bound solution (columns
        // minus earlier BIND aliases) — aliases are functions of it, and
        // including them would re-key BNODE("x") between two BINDs
        df = df.withColumn(v, compileExpr(e,
          n => if (have(n)) col(n) else lit(null).cast("string"),
          if (usesBNode(e))
            Some((solutionKey(df.columns.filterNot(bindAliases)), v))
          else None))
        bindAliases += v
        maybeNull += v
      case GMinus(block) =>
        require(df != null, "MINUS cannot start a group")
        val m = blockFrame(t, block)
        val shared = df.columns.toSeq.intersect(m.columns.toSeq)
        // SPARQL 1.1 §8.3: solutions with DISJOINT domains are kept —
        // a MINUS block sharing no variable removes nothing; a solution
        // with ALL shared vars unbound is likewise kept (the all-null
        // stratum of the compat join)
        if (shared.nonEmpty)
          df = compatJoinBoth(df, m, shared, maybeNull, blockNullable(block),
            "minus")
      case GExists(positive, block) =>
        require(df != null, "FILTER EXISTS cannot start a group")
        val e = blockFrame(t, block)
        val shared = df.columns.toSeq.intersect(e.columns.toSeq)
        val cross = splitFilters(block)._2
        df = if (shared.isEmpty && cross.isEmpty) {
          // no shared variable: pure existence probe — one broadcast row
          // decides the whole frame (never a row-count job on `e`)
          val any = broadcast(e.limit(1).select(lit(1).as("__e")))
          if (positive) df.join(any, lit(true), "left_semi")
          else df.join(any, lit(true), "left_anti")
        } else compatJoinBoth(df, e, shared, maybeNull, blockNullable(block),
          if (positive) "left_semi" else "left_anti", cond = cross)
    }
    q.filters.foreach(f => df = df.where(compileFilter(f)))
    if (q.describe.nonEmpty) {
      // DESCRIBE (SPARQL 1.1 §16.4, symmetric-CBD-lite): the result is
      // the sub-graph of every triple whose subject OR object is one of
      // the resolved resources. Resources: constants directly; ?vars
      // from the WHERE solutions. The resource set is small by
      // construction (a described entity list), so it broadcasts and
      // the triple store is swept once — no per-resource scans.
      val consts = q.describe.collect { case Const(v) => v }
      val vars = q.describe.collect { case V(n) => n }
      val sess = t.sparkSession
      import sess.implicits._
      val parts =
        (if (consts.isEmpty) Seq.empty[DataFrame] else Seq(consts.toDF("__r"))) ++
        vars.map(n => df.select(col(n).cast("string").as("__r")))
      val res = broadcast(parts.reduceLeft(_ unionByName _)
        .where(col("__r").isNotNull).distinct())
      return t.join(res, col("s") === col("__r") || col("o") === col("__r"),
          "left_semi")
        .select(col("s"), col("p"), col("o")).distinct()
    }
    if (q.ask) {
      // ASK: one boolean row — does any solution exist (lazy, no action)
      return df.limit(1).select(lit(1).as("__x"))
        .agg((count(lit(1)) > 0).as("ask"))
    }
    if (q.construct.nonEmpty) {
      // CONSTRUCT: instantiate each template triple per solution; the
      // result graph is a SET of triples (SPARQL semantics), hence the
      // distinct
      // skolem key: the WHOLE solution binding (sorted columns,
      // null-marked, \u0001-joined) — fresh per solution, shared across
      // the template's triples, md5-replayable in any engine
      lazy val skolemKey = solutionKey(df.columns)
      def side(t: Term): Column = t match {
        case V(n) => col(n).cast("string")
        case Const(v) => lit(v)
        case BNodeT(l) => concat(lit("_:" + l + "-"), skolemKey)
        case other => throw new IllegalArgumentException(
          s"property-set term $other is only valid in the predicate position")
      }
      return q.construct.map { tp =>
        df.select(side(tp.s).as("s"), side(tp.p).as("p"), side(tp.o).as("o"))
      }.reduceLeft(_ unionByName _).distinct()
    }
    if (q.aggregates.nonEmpty || q.groupBy.nonEmpty) {
      val aggCols = q.aggregates.map { a =>
        // §11: the argument is a full scalar expression over the
        // pre-aggregation solution frame
        def x: Column = compileExpr(a.arg.get)
        (a.fn match {
          case "COUNT" => a.arg
            .map(_ => if (a.isDistinct) countDistinct(x) else count(x))
            .getOrElse(count(lit(1)))
          // numeric aggregates view the untyped literal as a double;
          // non-numeric bindings try_cast to null and are skipped — the
          // SQL semantics both engines share (ANSI cast would throw).
          // DISTINCT dedups the argument multiset (§11.2); AVG DISTINCT
          // decomposes to sum_distinct/countDistinct (both null-skipping,
          // empty group → null/0 → null, matching AVG's empty-group null)
          case "SUM" =>
            val xd = x.try_cast("double")
            if (a.isDistinct) sum_distinct(xd) else sum(xd)
          case "AVG" =>
            val xd = x.try_cast("double")
            if (a.isDistinct) sum_distinct(xd) / countDistinct(xd) else avg(xd)
          // untyped string literals order lexically; DISTINCT is a no-op
          // on the extrema (and on the MIN-pinned SAMPLE)
          case "MIN" | "SAMPLE" => min(x)
          case "MAX" => max(x)
          // §11.1 leaves concat order and the sampled value
          // implementation-defined; SORTED order / MIN pin both so
          // reruns and cross-engine replays agree
          case "GROUP_CONCAT" =>
            val vs = if (a.isDistinct) collect_set(x) else collect_list(x)
            array_join(array_sort(vs), a.sep)
        }).as(a.alias)
      }
      // § GroupCondition expression keys materialize on the pre-agg
      // frame so the shuffle hashes the computed value directly
      q.groupExprs.foreach { case (v, e) =>
        df = df.withColumn(v, compileExpr(e)) }
      df = if (q.aggregates.isEmpty)
        // §18.2.4.1 Group with no aggregate projections: one solution
        // per group — the group keys, dedup'd (projection is restricted
        // to grouped vars at parse time, so the keys ARE the frame)
        df.select(q.groupBy.map(col): _*).distinct()
      else if (q.groupBy.nonEmpty)
        df.groupBy(q.groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      else df.agg(aggCols.head, aggCols.tail: _*)
      // HAVING (§7): a plain filter over the aggregated frame — group
      // keys and aliases are its columns
      q.having.foreach(h => df = df.where(compileFilter(h)))
      // post-aggregation nullability: group keys keep theirs, expression
      // keys and aggregate aliases may be null (empty / all-non-numeric
      // groups) — COUNT never is
      maybeNull = maybeNull.intersect(q.groupBy.toSet) ++
        q.groupExprs.map(_._1) ++
        q.aggregates.filterNot(_.fn == "COUNT").map(_.alias)
    }
    // trailing ValuesClause (§18.2.4.3): the inline data joins AFTER
    // grouping / HAVING and BEFORE the solution modifiers — §18.2.5
    // then applies OrderBy / Projection / Distinct / Slice on the
    // joined sequence. A compatibility broadcast join on whatever
    // result vars it shares (UNDEF rows unbound; a var the frame lacks
    // cross-joins in and is dropped by the projection).
    q.trailingValues.foreach { vb =>
      val shared = df.columns.toSeq.intersect(vb.vars)
      df = joinValues(df, vb, maybeNull)
      maybeNull = mergeNullable(maybeNull, undefVars(vb), shared)
    }
    // § SelectExpr: projection expressions fold over the (possibly
    // aggregated) frame in declaration order — each sees the earlier
    // aliases; a null input propagates to an unbound alias, as in BIND
    val selAliases = scala.collection.mutable.Set.empty[String]
    q.selectExprs.foreach { case (v, e) =>
      df = df.withColumn(v, compileExpr(e, col(_),
        if (usesBNode(e))
          Some((solutionKey(df.columns.filterNot(selAliases)), v))
        else None))
      selAliases += v }
    // §18.2.5 sequence: OrderBy → Projection → Distinct — a non-DISTINCT
    // query may order by non-projected vars (the sort runs on the full
    // frame, the projection is order-preserving); DISTINCT projects and
    // dedups first (its sort keys are parse-pinned to the projection)
    def applyOrder(frame: DataFrame): DataFrame =
      frame.orderBy(q.orderBy.map { case (e, asc) =>
        val c = compileExpr(e); if (asc) c.asc else c.desc }: _*)
    if (q.distinct) {
      df = df.select(q.projection.map(col): _*).distinct()
      if (q.orderBy.nonEmpty) df = applyOrder(df)
    } else {
      if (q.orderBy.nonEmpty) df = applyOrder(df)
      df = df.select(q.projection.map(col): _*)
    }
    q.offset.foreach(n => df = df.offset(n))
    q.limit.foreach(n => df = df.limit(n))
    df
  }

  /**
   * W3C "SPARQL 1.1 Query Results JSON Format" serialization — the
   * surface a reference user reads query answers through (the reference
   * frontend streams one JSON object per row).
   *
   * [[bindingsJson]] renders ONE binding object per solution row —
   * `{"x":{"type":"literal","value":"…"}, …}` — with unbound (null)
   * variables OMITTED, as the format requires. Every row is an
   * independent codegen'd `to_json`; the result stays a distributed
   * frame rather than funnelling a single results document to the
   * driver — at scale the caller streams/writes the binding rows and
   * prepends [[headJson]], which needs only the schema.
   */
  def bindingsJson(df: DataFrame): DataFrame = {
    val fields = df.columns.toSeq.map { v =>
      when(col(v).isNotNull,
        struct(lit("literal").as("type"), col(v).cast("string").as("value")))
        .as(v)
    }
    df.select(to_json(struct(fields: _*),
      java.util.Map.of("ignoreNullFields", "true")).as("binding"))
  }

  /** The results-document header for [[bindingsJson]] rows:
    * `{"head":{"vars":[…]}}` — derived from the schema alone. */
  def headJson(df: DataFrame): String =
    df.columns.map(c => "\"" + c + "\"")
      .mkString("""{"head":{"vars":[""", ",", "]}}")

  // ----- SPARQL 1.1 Update (W3C sparql11-update) ----------------------------

  /**
   * SPARQL 1.1 Update over a triple frame — FUNCTIONAL: Spark frames
   * are immutable, so the operation returns the UPDATED graph (the
   * caller re-registers / persists it; at cluster scale this is the
   * copy-on-write table pattern — Delta/Iceberg commit the same shape).
   *
   * Supported forms (PREFIX headers apply):
   *  - `INSERT DATA { triples }` / `DELETE DATA { triples }` —
   *    constant statements union in / anti-join out
   *  - `DELETE WHERE { patterns }` — the matched instantiations of the
   *    pattern itself are removed (§3.1.3's shortcut form)
   *  - `DELETE { template } INSERT { template } WHERE { group }` —
   *    both templates instantiate over the WHERE solutions (either
   *    part may be absent); the full query-side group algebra is
   *    available in WHERE (it is evaluated by [[run]])
   *  - `CLEAR DEFAULT` / `CLEAR ALL` — the empty graph
   *  - `LOAD <doc>` — N-Quads/N-Triples lines from a Hadoop-visible
   *    path merge in (set semantics); `INTO GRAPH` needs a quad frame
   *
   * The quad form ([[updateQuads]]) adds `WITH <g>`, `USING` /
   * `USING NAMED`, GRAPH-scoped templates, graph management
   * (CLEAR/DROP/ADD/COPY/MOVE) and `LOAD ... INTO GRAPH <g>`.
   *
   * Inserting forms return the SET graph (RDF semantics — duplicates
   * collapse on the union); delete-only forms anti-join and preserve
   * the input's multiplicities (a set stays a set). Everything is
   * distributed except/union/distinct — never a driver-side
   * materialization.
   */
  def update(graph: DataFrame, text: String): DataFrame = {
    if (graph.columns.contains("g")) return updateQuads(graph, text)
    val g = graph.select(col("s"), col("p"), col("o"))
    var ts = tokenizeU(text)
    def peek: String = ts.headOption.getOrElse("")
    def pop(): String = { val h = peek; require(ts.nonEmpty, "unexpected end of update"); ts = ts.tail; h }
    // PREFIX headers — collected, then re-emitted in front of the
    // synthesized SELECT the WHERE group is evaluated through
    val prefixes = scala.collection.mutable.ListBuffer.empty[String]
    while (peek.equalsIgnoreCase("PREFIX")) {
      pop(); val name = pop(); val iri = pop()
      prefixes += s"PREFIX $name $iri"
    }
    val prefixHeader = if (prefixes.isEmpty) "" else prefixes.mkString("", " ", " ")
    /** Balanced `{ … }` span → its raw token text. */
    def braceSpan(): String = {
      require(pop() == "{", "expected '{'")
      var depth = 1
      val buf = scala.collection.mutable.ListBuffer.empty[String]
      while (depth > 0) {
        val t2 = pop()
        if (t2 == "{") depth += 1
        if (t2 == "}") depth -= 1
        if (depth > 0) buf += t2
      }
      buf.mkString(" ")
    }
    /** Template text → triple patterns via the query parser (a
      * synthesized WHERE group; paths/blocks are rejected there). */
    def templatePatterns(span: String): Seq[Pattern] = {
      val q = parse(s"${prefixHeader}SELECT * WHERE { $span }")
      require(q.groupElems.forall(_.isInstanceOf[GPats]) &&
        q.filters.isEmpty && q.binds.isEmpty,
        "a template may contain only triple patterns")
      q.patterns.map {
        case p: Pattern =>
          // a path SEQUENCE rewrites into __path-chained patterns —
          // reject those too, not just explicit PathPats
          require(!termsOf(p).exists {
            case V(n) => n.startsWith("__path"); case _ => false },
            "a template may not contain property paths")
          p
        case other => throw new IllegalArgumentException(
          s"a template may not contain property paths: $other")
      }
    }
    /** Instantiate template triples over the WHERE solutions. */
    def instantiate(sols: DataFrame, tpl: Seq[Pattern]): DataFrame = {
      def side(t: Term): Column = t match {
        case V(n) => col(n).cast("string")
        case Const(v) => lit(v)
        case other => throw new IllegalArgumentException(
          s"template term $other is not instantiable")
      }
      tpl.map(p => sols.select(side(p.s).as("s"), side(p.p).as("p"),
          side(p.o).as("o")))
        .reduceLeft(_ unionByName _)
        .where(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
    }
    def constData(span: String): DataFrame = {
      val tpl = templatePatterns(span)
      require(tpl.forall(p => termsOf(p).forall(_.isInstanceOf[Const])),
        "INSERT/DELETE DATA allows only constant triples (no variables)")
      val sess = graph.sparkSession
      import sess.implicits._
      tpl.map { case Pattern(Const(a), Const(b), Const(c)) => (a, b, c) }
        .toDF("s", "p", "o")
    }
    def solutionsOf(whereSpan: String): DataFrame =
      run(g, s"${prefixHeader}SELECT * WHERE { $whereSpan }")

    val head = pop().toUpperCase
    head match {
      case "LOAD" =>
        // triple-frame LOAD (§3.1.4): the document's statements merge
        // into the (only) graph; INTO GRAPH needs a quad frame.
        // LOAD SILENT: a failed load leaves the store unchanged.
        val silent = peek.equalsIgnoreCase("SILENT") && { pop(); true }
        val doc = tokTerm(pop()) match {
          case Const(v) => v
          case other => throw new IllegalArgumentException(
            s"LOAD expects a document <iri>, got $other")
        }
        require(ts.isEmpty || !peek.equalsIgnoreCase("INTO"),
          "LOAD ... INTO GRAPH needs a quad frame (columns g, s, p, o)")
        try {
          val raw = graft.sources.GraphSources
            .readRdfQuads(graph.sparkSession, doc)
          raw.queryExecution.analyzed  // eager path resolution for SILENT
          val loaded = raw.select(col("s"), col("p"), col("o")).distinct()
          g.join(loaded, Seq("s", "p", "o"), "left_anti").unionByName(loaded)
        } catch {
          case e if silent && scala.util.control.NonFatal(e) => g
        }
      case "CLEAR" =>
        val what = pop().toUpperCase
        require(what == "ALL" || what == "DEFAULT", s"CLEAR $what is unsupported")
        g.limit(0)
      case "INSERT" if peek.equalsIgnoreCase("DATA") =>
        pop()
        // set-insert without re-shuffling the store (r14 audit): the
        // tiny constant payload broadcasts, existing copies anti-join
        // away as the graph STREAMS past, then the payload unions in —
        // (g \ new) ∪ new = g ∪ new, and no full-graph Exchange
        val add = constData(braceSpan()).distinct()
        g.join(broadcast(add), Seq("s", "p", "o"), "left_anti")
          .unionByName(add)
      case "DELETE" if peek.equalsIgnoreCase("DATA") =>
        pop()
        g.join(broadcast(constData(braceSpan())), Seq("s", "p", "o"),
          "left_anti")
      case "DELETE" if peek.equalsIgnoreCase("WHERE") =>
        // §3.1.3 shortcut: the pattern is both the query and the
        // delete template
        pop()
        val span = braceSpan()
        val tpl = templatePatterns(span)
        g.join(instantiate(solutionsOf(span), tpl).distinct(),
          Seq("s", "p", "o"), "left_anti")
      case "DELETE" | "INSERT" =>
        val delTpl = if (head == "DELETE") Some(braceSpan()) else None
        val insTpl =
          if (head == "INSERT") Some(braceSpan())
          else if (peek.equalsIgnoreCase("INSERT")) { pop(); Some(braceSpan()) }
          else None
        require(pop().equalsIgnoreCase("WHERE"), "expected WHERE")
        val sols = solutionsOf(braceSpan()).localCheckpoint(true)
        // §3.1.3 order: deletes compute against the ORIGINAL graph,
        // inserts apply after — one pass over the materialized
        // solutions serves both templates
        val afterDelete = delTpl.fold(g)(spanD =>
          g.join(instantiate(sols, templatePatterns(spanD)).distinct(),
            Seq("s", "p", "o"), "left_anti"))
        // dedup scoped to new-vs-new (distinct over the instantiated
        // rows only) and new-vs-existing (anti-join; AQE broadcasts the
        // small side) — never a full-graph distinct
        insTpl.fold(afterDelete) { spanI =>
          val ins = instantiate(sols, templatePatterns(spanI)).distinct()
          afterDelete.join(ins, Seq("s", "p", "o"), "left_anti")
            .unionByName(ins)
        }
      case other => throw new IllegalArgumentException(
        s"unsupported update form '$other'")
    }
  }

  /**
   * [[update]] over a (g, s, p, o) QUAD frame — the dataset-aware
   * surface (sparql11-update §3.1–3.2):
   *  - data/template spans may scope statements with
   *    `GRAPH <iri> { … }` (a bare triple targets the DEFAULT graph);
   *    WHERE-form insert templates may also use `GRAPH ?g { … }` with
   *    ?g bound by the WHERE group (an unbound ?g skips the
   *    instantiation, per spec)
   *  - graph management: `CLEAR DEFAULT|NAMED|ALL|GRAPH <iri>` (DROP
   *    is the same — frames have no empty-graph existence),
   *    `ADD|COPY|MOVE (DEFAULT|[GRAPH] <iri>) TO (DEFAULT|[GRAPH] <iri>)`
   * Deletions anti-join NULL-SAFELY on g (the default graph's null
   * must match itself); inserting forms return the SET dataset.
   */
  private def updateQuads(graph: DataFrame, text: String): DataFrame = {
    val g = graph.select(col("g"), col("s"), col("p"), col("o"))
    var ts = tokenizeU(text)
    def peek: String = ts.headOption.getOrElse("")
    def pop(): String = { val h = peek; require(ts.nonEmpty, "unexpected end of update"); ts = ts.tail; h }
    val prefixes = scala.collection.mutable.ListBuffer.empty[String]
    while (peek.equalsIgnoreCase("PREFIX")) {
      pop(); val name = pop(); val iri = pop()
      prefixes += s"PREFIX $name $iri"
    }
    val prefixHeader = if (prefixes.isEmpty) "" else prefixes.mkString("", " ", " ")
    // `WITH <g>` (sparql11-update §3.1.3, Modify form only): the graph
    // un-GRAPH-scoped template statements target, and the WHERE
    // clause's default matching graph unless USING overrides it
    val withGraph: Option[String] =
      if (peek.equalsIgnoreCase("WITH")) {
        pop()
        tokTerm(pop()) match {
          case Const(v) => Some(v)
          case other => throw new IllegalArgumentException(
            s"WITH expects a graph <iri>, got $other")
        }
      } else None
    def braceSpan(): String = {
      require(pop() == "{", "expected '{'")
      var depth = 1
      val buf = scala.collection.mutable.ListBuffer.empty[String]
      while (depth > 0) {
        val t2 = pop()
        if (t2 == "{") depth += 1
        if (t2 == "}") depth -= 1
        if (depth > 0) buf += t2
      }
      buf.mkString(" ")
    }
    /** Template span → (graph term, triple pattern) pairs: bare
      * triples target the default graph (None), GRAPH blocks their
      * named graph (constant or WHERE-bound variable). */
    def templateQuads(span: String): Seq[(Option[Term], Pattern)] = {
      val q = parse(s"${prefixHeader}SELECT * WHERE { $span }")
      require(q.filters.isEmpty && q.binds.isEmpty,
        "a template may contain only (GRAPH-scoped) triple patterns")
      def plain(p: Pat): Pattern = p match {
        case tp: Pattern =>
          require(!termsOf(tp).exists {
            case V(n) => n.startsWith("__path"); case _ => false },
            "a template may not contain property paths")
          tp
        case other => throw new IllegalArgumentException(
          s"a template may not contain property paths: $other")
      }
      q.groupElems.flatMap {
        case GPats(ps) => ps.map(p => (None: Option[Term], plain(p)))
        case GGraph(gt, b) =>
          require(b.filters.isEmpty && b.binds.isEmpty && b.optionals.isEmpty &&
            b.values.isEmpty && b.existsBlocks.isEmpty && b.minusBlocks.isEmpty,
            "a GRAPH template block may contain only triple patterns")
          b.pats.map(p => (Some(gt), plain(p)))
        case other => throw new IllegalArgumentException(
          s"unsupported template element $other")
      }
    }
    /** Instantiate quad templates over solutions (unbound terms —
      * incl. an unbound GRAPH ?g — skip the instantiation). */
    def instantiateQ(sols: DataFrame,
                     tpl: Seq[(Option[Term], Pattern)]): DataFrame = {
      def side(t: Term): Column = t match {
        case V(n) => col(n).cast("string")
        case Const(v) => lit(v)
        case other => throw new IllegalArgumentException(
          s"template term $other is not instantiable")
      }
      tpl.map { case (gt, p) =>
        val gCol = gt match {
          // bare template triples target the WITH graph when present,
          // else the default graph (§3.1.3)
          case None => withGraph.fold(lit(null).cast("string"))(w => lit(w))
          case Some(t0) => side(t0)
        }
        val base = sols.select(gCol.as("g"), side(p.s).as("s"),
          side(p.p).as("p"), side(p.o).as("o"))
          .where(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
        // GRAPH ?g with an unbound binding: skip (a constant / default
        // graph keeps its rows — g null is the default graph there)
        if (gt.exists(_.isInstanceOf[V])) base.where(col("g").isNotNull)
        else base
      }.reduceLeft(_ unionByName _)
    }
    /** Null-safe (g,s,p,o) anti-join — the default graph's null g must
      * match itself. Duplicates in `del` are harmless for an anti-join;
      * callers dedup/broadcast-hint the del side themselves (a distinct
      * HERE would sit above any caller's broadcast hint and strip it). */
    def minusQuads(from: DataFrame, del: DataFrame): DataFrame = {
      val l = from.as("__l"); val r = del.as("__r")
      l.join(r,
        col("__l.g") <=> col("__r.g") && col("__l.s") === col("__r.s") &&
          col("__l.p") === col("__r.p") && col("__l.o") === col("__r.o"),
        "left_anti")
    }
    def constQuads(span: String): DataFrame = {
      val tpl = templateQuads(span)
      require(tpl.forall { case (gt, p) =>
        termsOf(p).forall(_.isInstanceOf[Const]) &&
          gt.forall(_.isInstanceOf[Const]) },
        "INSERT/DELETE DATA allows only constant statements")
      val sess = graph.sparkSession
      import sess.implicits._
      tpl.map { case (gt, Pattern(Const(a), Const(b), Const(c))) =>
        (gt.collect { case Const(v) => v }.orNull, a, b, c) }
        .toDF("g", "s", "p", "o")
    }
    def solutionsOf(whereSpan: String): DataFrame =
      run(graph, s"${prefixHeader}SELECT * WHERE { $whereSpan }")
    /** DEFAULT | [GRAPH] <iri> selector → Option[graph name]. */
    def graphRef(): Option[String] = {
      if (peek.equalsIgnoreCase("DEFAULT")) { pop(); None }
      else {
        if (peek.equalsIgnoreCase("GRAPH")) pop()
        Some(pop()).map(tok => tokTerm(tok) match {
          case Const(v) => v
          case other => throw new IllegalArgumentException(
            s"expected a graph <iri>, got $other")
        })
      }
    }
    // NULL-SAFE graph match: negations must keep the default graph's
    // null-g rows (a plain === would three-value them away)
    def gEq(ref: Option[String]): Column =
      ref.fold(col("g").isNull)(v => col("g") <=> lit(v))

    val head = pop().toUpperCase
    // grammar: only the Modify production takes WITH
    require(withGraph.isEmpty || head == "DELETE" || head == "INSERT",
      s"WITH applies only to DELETE/INSERT ... WHERE, not $head")
    head match {
      case "LOAD" =>
        // LOAD <document> [INTO GRAPH <g>] (§3.1.4): the document IRI is
        // a Hadoop-visible path (file:/…, hdfs:/…) of N-Quads/N-Triples
        // lines; loaded statements land in the named graph (overriding
        // any in-file graph terms, per spec: the document is loaded
        // "into" that graph) or keep their own graph / the default.
        // LOAD SILENT (§3.1.4): failure to load (missing/unreadable
        // document) leaves the store unchanged instead of erroring.
        // Only the eager path-resolution failure is catchable here —
        // Spark reads lazily, so a document that disappears mid-action
        // still errors; that matches the spec's best-effort reading.
        val silent = peek.equalsIgnoreCase("SILENT") && { pop(); true }
        val doc = tokTerm(pop()) match {
          case Const(v) => v
          case other => throw new IllegalArgumentException(
            s"LOAD expects a document <iri>, got $other")
        }
        val target: Option[String] =
          if (peek.equalsIgnoreCase("INTO")) {
            pop()
            require(pop().equalsIgnoreCase("GRAPH"), "expected GRAPH after INTO")
            tokTerm(pop()) match {
              case Const(v) => Some(v)
              case other => throw new IllegalArgumentException(
                s"INTO GRAPH expects a graph <iri>, got $other")
            }
          } else None
        try {
          val raw = graft.sources.GraphSources.readRdfQuads(graph.sparkSession, doc)
          // force eager path resolution so a missing document fails HERE
          // (where SILENT can catch it), not at the caller's first action
          raw.queryExecution.analyzed
          val loaded = target.fold(raw)(t0 =>
            raw.select(lit(t0).as("g"), col("s"), col("p"), col("o"))).distinct()
          // set-insert, scale-safe: anti-join existing copies, union in
          // (no broadcast hint — the document's size is unknown; AQE
          // flips to broadcast when it turns out small)
          minusQuads(g, loaded).unionByName(loaded)
        } catch {
          // LOAD SILENT: swallow the load failure, keep the store as-is
          case e if silent && scala.util.control.NonFatal(e) => g
        }
      case "CLEAR" | "DROP" =>
        peek.toUpperCase match {
          case "ALL" => pop(); g.limit(0)
          case "DEFAULT" => pop(); g.where(col("g").isNotNull)
          case "NAMED" => pop(); g.where(col("g").isNull)
          case _ =>
            val ref = graphRef()
            g.where(!gEq(ref))
        }
      case "ADD" | "COPY" | "MOVE" =>
        val src = graphRef()
        require(pop().equalsIgnoreCase("TO"), "expected TO")
        val dst = graphRef()
        if (src == dst) g
        else {
          val moved = g.where(gEq(src))
            .select(dst.fold(lit(null).cast("string"))(lit(_)).as("g"),
              col("s"), col("p"), col("o"))
          // COPY/MOVE clear the destination graph first, so `moved`
          // cannot collide with `base` — plain union, no dedup. ADD may
          // collide with existing destination rows: anti-join them away
          // (moved is itself a set — a relabeled subset of the set g),
          // never a full-store distinct.
          head match {
            case "ADD" => minusQuads(g, moved).unionByName(moved)
            case "COPY" => g.where(!gEq(dst)).unionByName(moved)
            case "MOVE" => g.where(!gEq(dst) && !gEq(src)).unionByName(moved)
          }
        }
      case "INSERT" if peek.equalsIgnoreCase("DATA") =>
        require(withGraph.isEmpty, "WITH applies only to DELETE/INSERT ... WHERE")
        pop()
        // set-insert without re-shuffling the store: broadcast the tiny
        // constant payload, anti-join existing copies away as the store
        // streams past, union the payload in — no full-store Exchange
        val add = constQuads(braceSpan()).distinct()
        minusQuads(g, broadcast(add)).unionByName(add)
      case "DELETE" if peek.equalsIgnoreCase("DATA") =>
        require(withGraph.isEmpty, "WITH applies only to DELETE/INSERT ... WHERE")
        pop()
        minusQuads(g, broadcast(constQuads(braceSpan())))
      case "DELETE" if peek.equalsIgnoreCase("WHERE") =>
        require(withGraph.isEmpty,
          "WITH applies only to the DELETE/INSERT ... WHERE form")
        pop()
        val span = braceSpan()
        val tpl = templateQuads(span)
        minusQuads(g, instantiateQ(solutionsOf(span), tpl).distinct())
      case "DELETE" | "INSERT" =>
        val delTpl = if (head == "DELETE") Some(braceSpan()) else None
        val insTpl =
          if (head == "INSERT") Some(braceSpan())
          else if (peek.equalsIgnoreCase("INSERT")) { pop(); Some(braceSpan()) }
          else None
        // `USING <g>` / `USING NAMED <g>` (§3.1.3): the WHERE clause's
        // dataset, exactly like FROM / FROM NAMED on a query. Any USING
        // overrides WITH for matching (WITH still scopes the templates).
        val usings = scala.collection.mutable.ListBuffer.empty[(Boolean, String)]
        while (peek.equalsIgnoreCase("USING")) {
          pop()
          val named = peek.equalsIgnoreCase("NAMED")
          if (named) pop()
          tokTerm(pop()) match {
            case Const(v) => usings += ((named, v))
            case other => throw new IllegalArgumentException(
              s"USING expects a graph <iri>, got $other")
          }
        }
        require(pop().equalsIgnoreCase("WHERE"), "expected WHERE")
        val whereSpan = braceSpan()
        val whereQuery =
          if (usings.nonEmpty) {
            val ds = usings.map { case (named, iri) =>
              (if (named) "FROM NAMED <" else "FROM <") + iri + ">"
            }.mkString(" ")
            s"${prefixHeader}SELECT * $ds WHERE { $whereSpan }"
          } else s"${prefixHeader}SELECT * WHERE { $whereSpan }"
        // WITH and no USING: the WITH graph plays the default graph for
        // matching, threaded as a dataset override rather than a textual
        // `GRAPH <w> { … }` wrap — the wrap would fail on a WHERE that
        // itself contains an explicit GRAPH block, which is legal
        // (§3.1.3: WITH applies only to patterns outside explicit GRAPH)
        val parsedWhere =
          if (usings.isEmpty) parse(whereQuery).copy(withDefaultGraph = withGraph)
          else parse(whereQuery)
        val sols = runParsed(graph, parsedWhere).localCheckpoint(true)
        val afterDelete = delTpl.fold(g)(spanD =>
          minusQuads(g, instantiateQ(sols, templateQuads(spanD)).distinct()))
        // scoped dedup as in the triple form: new-vs-new distinct,
        // new-vs-existing null-safe anti-join — no full-store distinct
        insTpl.fold(afterDelete) { spanI =>
          val ins = instantiateQ(sols, templateQuads(spanI)).distinct()
          minusQuads(afterDelete, ins).unionByName(ins)
        }
      case other => throw new IllegalArgumentException(
        s"unsupported update form '$other'")
    }
  }

  /** Bare token → Term with <iri> / "literal" stripping (the update
    * parser's graph selectors, outside the main query parser). */
  private def tokTerm(t: String): Term =
    if (t.startsWith("?") && t.length > 1) V(t.drop(1))
    else if (t.startsWith("<")) Const(t.substring(1, t.length - 1))
    else if (t.startsWith("\"")) Const(t.substring(1, t.length - 1))
    else Const(t)

  /** The query tokenizer, shared by [[update]]. */
  private def tokenizeU(text: String): List[String] = tokenize(text)
}
