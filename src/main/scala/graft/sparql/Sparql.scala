package graft.sparql

/** Minimal SPARQL-subset AST.
  *
  * The reference parses with Jena (`/root/reference/src/main/java/com/github/nkoutroumanis/MyOpVisitorBase.java:48-52`)
  * but only ever consumes basic graph patterns; Jena is unavailable offline,
  * so the subset grammar — `SELECT <vars|*> WHERE { s p o . s p o . ... }` —
  * is parsed by hand. Terms: `?var`, `'literal'` (quoted, may be
  * `:`-prefixed), `<uri>` / `<a>` (angle-bracketed), or a bare prefixed name.
  */
sealed trait Term
final case class Variable(name: String) extends Term
final case class Constant(lexical: String) extends Term
/** A property path in the predicate position (see [[Path]]). */
final case class PathTerm(path: Path) extends Term

/** A SPARQL 1.1 property path, parsed once by [[SparqlParser]].
  * Grammar, loosest binding first (`name` is `:?\w+`, a dictionary term):
  * {{{
  * path    ::= seq ('|' seq)*                     Alt
  * seq     ::= elt ('/' elt)*                     PathSeq
  * elt     ::= '^' elt | primary mod?             Inv; ^p+ parses as (^p)+
  * primary ::= name | '!' negset | '(' path ')'   Link | NegSet
  * negset  ::= name | '(' name ('|' name)* ')'
  * mod     ::= '+' | '*' | '?' | '{' n '}' | '{' n ',}' | '{' n ',' m '}'
  *                                                Rep(p, lo, hi); n <= m <= 20
  * }}}
  * The engine evaluates this subset of it; anything else fails with
  * "unsupported property path" (`step` is a name, a parenthesized
  * alternation of names, or either under `^`):
  *  - `^name`, and sequences of `name`s and `^name`s: rewritten by the
  *    parser into plain patterns joined through fresh `__pathN` variables;
  *  - `!negset` alone: a scan over every other predicate;
  *  - `step+`, `step*`, `step?`: closure over one step, an alternation of
  *    `name`s and `^name`s, or a `!negset`;
  *  - `name{n,m}` and `(name|...){n,m}`, in all three quantifier forms;
  *  - `(step/step/...)+` (or `*`, `?`): closure over the composed
  *    sequence, with one bound end;
  *  - `step/step/...` whose steps may carry `+`, `*` or `?`, with one
  *    bound end.
  */
sealed trait Path {
  /** Predicate lexical forms the path mentions, for dictionary encoding. */
  def preds: Seq[String] = this match {
    case Link(p) => Seq(p)
    case NegSet(ps) => ps
    case Inv(p) => p.preds
    case Rep(p, _, _) => p.preds
    case Alt(ps) => ps.flatMap(_.preds)
    case PathSeq(ps) => ps.flatMap(_.preds)
  }

  /** The same relation walked backwards: (a/b)⁻¹ = b⁻¹/a⁻¹, and
    * modifiers commute with inversion.
    */
  def inverse: Path = this match {
    case Inv(p) => p
    case PathSeq(ps) => PathSeq(ps.reverse.map(_.inverse))
    case Rep(p, lo, hi) => Rep(p.inverse, lo, hi)
    case p => Inv(p)
  }
}
final case class Link(pred: String) extends Path
final case class Inv(p: Path) extends Path
final case class Alt(ps: Seq[Path]) extends Path
final case class PathSeq(ps: Seq[Path]) extends Path
/** `!name` / `!(name|...)`: any predicate outside the set. */
final case class NegSet(names: Seq[String]) extends Path
/** `p{lo,hi}`; `hi = None` is unbounded. `+` is (1, None), `*` is
  * (0, None), `?` is (0, Some(1)).
  */
final case class Rep(p: Path, lo: Int, hi: Option[Int]) extends Path

final case class TriplePattern(s: Term, p: Term, o: Term)

/** `FILTER(?var op term)` — op ∈ {=, !=, <, <=, >, >=}, the term a constant,
  * an integer literal (compared as an encoded id — the engine's value domain,
  * like the reference's), or another variable — plus
  * `FILTER([!]BOUND(?var))` (for BOUND forms `value` is unused and carries
  * the variable itself) and `FILTER([!]regex(?var, 'pattern'))` (`value`
  * carries the RAW regex pattern, not a dictionary term — the variable's
  * decoded lexical form is matched).
  */
sealed trait FilterOp
case object FilterEq extends FilterOp
case object FilterNeq extends FilterOp
case object FilterLt extends FilterOp
case object FilterLe extends FilterOp
case object FilterGt extends FilterOp
case object FilterGe extends FilterOp
case object FilterBound extends FilterOp
case object FilterNotBound extends FilterOp
case object FilterRegex extends FilterOp
case object FilterNotRegex extends FilterOp
// `?var [NOT] IN (term, …)` — `values` carries the list; `value` is unused
case object FilterIn extends FilterOp
case object FilterNotIn extends FilterOp
// String functions over the variable's DECODED lexical form (the STR()
// wrapper is accepted and implied): `value` carries the RAW string argument,
// never a dictionary term — planned like regex as a dictionary semi/anti
// join, so the string predicate runs once per VOCABULARY entry.
case object FilterStrStarts extends FilterOp
case object FilterNotStrStarts extends FilterOp
case object FilterStrEnds extends FilterOp
case object FilterNotStrEnds extends FilterOp
case object FilterStrContains extends FilterOp
case object FilterNotStrContains extends FilterOp
// `STRLEN(STR(?v)) cmp n` — cmp is one of the six comparison ops; the
// (possibly negated) length predicate itself selects the vocabulary ids,
// so the join is always a semi-join
final case class FilterStrLen(cmp: FilterOp) extends FilterOp

object FilterOp {
  /** Ops whose `value` is a raw string/length argument, NOT a dictionary
    * term — excluded from constant encoding and planned via the dictionary
    * join path.
    */
  def isLexical(op: FilterOp): Boolean = op match {
    case FilterRegex | FilterNotRegex | FilterStrStarts | FilterNotStrStarts |
        FilterStrEnds | FilterNotStrEnds | FilterStrContains |
        FilterNotStrContains | _: FilterStrLen => true
    case _ => false
  }
}

final case class FilterCond(variable: String, op: FilterOp, value: Term,
    values: Seq[Term] = Nil)

/** A FILTER condition tree: leaves are [[FilterCond]] atoms combined with
  * `&&` / `||` (SPARQL ConditionalAndExpression / ConditionalOrExpression;
  * `&&` binds tighter, no parenthesized grouping in the subset). A
  * single-atom filter is one [[FilterLeaf]].
  */
sealed trait FilterExpr {
  /** The atoms of the tree, left to right. */
  def leaves: Seq[FilterCond] = this match {
    case FilterLeaf(c) => Seq(c)
    case FilterAnd(l, r) => l.leaves ++ r.leaves
    case FilterOr(l, r) => l.leaves ++ r.leaves
  }
}
final case class FilterLeaf(cond: FilterCond) extends FilterExpr
final case class FilterAnd(l: FilterExpr, r: FilterExpr) extends FilterExpr
final case class FilterOr(l: FilterExpr, r: FilterExpr) extends FilterExpr

/** A BIND source: a plain term (variable alias / constant), or one binary
  * arithmetic step `l op r` (`+ - *`) over the engine's integer value
  * domain — operands widen to long so id-space arithmetic cannot overflow.
  * An operand resolves like a FILTER comparison RHS: variable → its column,
  * dictionary term → its encoded id, bare integer → itself, unknown term →
  * null (SPARQL expression error → the alias binds null).
  */
sealed trait BindExpr
final case class BindTerm(t: Term) extends BindExpr
final case class BindArith(l: Term, op: Char, r: Term) extends BindExpr
/** `COALESCE(t1, t2, …)` — first argument that evaluates without error
  * (i.e. first non-null: an unbound OPTIONAL variable or unknown term is an
  * expression error → null). The OPTIONAL-default idiom.
  */
final case class BindCoalesce(terms: Seq[Term]) extends BindExpr
/** `IF(cond, then, else)` — cond is one FILTER atom (comparison or
  * [!]BOUND); an error (null) condition makes the whole IF an error → the
  * alias binds null, per SPARQL 1.1 §17.4.1.2.
  */
final case class BindIf(cond: FilterCond, thenT: Term, elseT: Term) extends BindExpr

/** A SPARQL 1.1 aggregate in the projection:
  * `(COUNT([DISTINCT] ?v | *) AS ?alias)`, `(SUM([DISTINCT] ?v) AS ?alias)`,
  * `(MIN(?v) AS ?alias)`, `(MAX(?v) AS ?alias)`.
  */
final case class CountAgg(variable: Option[String], distinct: Boolean,
    alias: String, fn: String = "COUNT")

/** `HAVING (AGG(?v | *) op n)` — a post-aggregation group filter; `op` is
  * one of the six comparisons.
  */
final case class HavingCond(fn: String, variable: Option[String], op: FilterOp,
    value: Long)

/** A basic graph pattern plus the query's projection (Nil = `*`), OPTIONAL
  * pattern groups (each left-joined to the required patterns on shared
  * variables, unmatched rows binding their variables to null), FILTER
  * condition trees (one per FILTER clause, applied in source order),
  * solution modifiers (ORDER BY / OFFSET / LIMIT / DISTINCT), and —
  * mutually exclusive with `patterns` — top-level UNION arms
  * (`{ bgp } UNION { bgp } ...`, bag semantics, variables not bound by an
  * arm come out null).
  */
final case class BgpQuery(
    projection: Seq[String],
    patterns: Seq[TriplePattern],
    filters: Seq[FilterExpr] = Nil,
    limit: Option[Int] = None,
    optionals: Seq[Seq[TriplePattern]] = Nil,
    distinct: Boolean = false,
    unionArms: Seq[Seq[TriplePattern]] = Nil,
    orderBy: Seq[(String, Boolean)] = Nil, // (variable, ascending)
    offset: Option[Int] = None,
    groupByVars: Seq[String] = Nil,
    countAggs: Seq[CountAgg] = Nil,
    havings: Seq[HavingCond] = Nil,
    optionalFilters: Seq[Seq[FilterExpr]] = Nil, // aligned with `optionals`
    binds: Seq[(BindExpr, String)] = Nil, // BIND(term|?var [op term] AS ?alias)
    // FILTER [NOT] EXISTS { bgp } groups: (patterns, negated)
    existsFilters: Seq[(Seq[TriplePattern], Boolean)] = Nil,
    ask: Boolean = false,
    describeTerm: Option[Constant] = None,
    constructTemplate: Seq[TriplePattern] = Nil,
    inlineValues: Seq[(String, Seq[Constant])] = Nil,
    // multi-variable ValuesClause rows: (vars, tuples) — each tuple one
    // binding per var; None = UNDEF (that variable unconstrained and
    // unextended for that row)
    inlineValuesMulti: Seq[(Seq[String], Seq[Seq[Option[Constant]]])] = Nil,
    minuses: Seq[Seq[TriplePattern]] = Nil,
    // `{ SELECT … WHERE { … } … }` group graph patterns, parsed recursively;
    // each joins the enclosing solutions on its shared projected variables
    subqueries: Seq[BgpQuery] = Nil,
    // `GRAPH <term|?var> { bgp }` groups (SPARQL named graphs): the term
    // names the graph (variable form binds it); patterns scope to it.
    // Requires a registered quad store.
    graphGroups: Seq[(Term, Seq[TriplePattern])] = Nil,
    // `DESCRIBE ?v WHERE { bgp }`: the inner query (projecting ?v) selects
    // the resources; the result is every triple mentioning any of them.
    describeWhere: Option[BgpQuery] = None)

object SparqlParser {

  /** Parse the SPARQL subset. Unlike the reference — whose visitor keeps only
    * the LAST pattern of a multi-pattern BGP (static field overwritten per
    * iteration, `MyOpVisitorBase.java:42-45`) — all patterns are kept, making
    * multi-hop BGPs expressible (the generalization called for in SURVEY §2.3).
    */
  def parse(query: String): BgpQuery = {
    // Fresh-variable supply for path rewrites (sequence `:p/:q`, inverse
    // `^:p`): names carry the reserved `__path` prefix so the planner's
    // star projection hides them (SPARQL path-internal variables are not
    // visible bindings). Local to this parse call — deterministic,
    // race-free.
    var freshN = 0
    def fresh(): String = { freshN += 1; s"__path$freshN" }
    // PREFIX declarations: remember the mappings, strip the clauses, and
    // expand declared `ns:local` names to `<uri+local>` (which the term
    // normalizer then reduces to its last segment, consistent with the
    // URI rule). Undeclared prefixed names (e.g. the default `:p` forms
    // the dictionary stores verbatim) pass through untouched.
    val prefixRe = "(?i)PREFIX\\s+(\\w*):\\s*<([^>]*)>\\s*".r
    val rawNorm = query.trim.replaceAll("\\s+", " ")
    val prefixes = prefixRe.findAllMatchIn(rawNorm)
      .map(m => m.group(1) -> m.group(2)).toMap
    val normalized = expandPrefixes(
      prefixRe.replaceAllIn(rawNorm, " ").trim, prefixes)
    // ASK: boolean existence of any solution (no projection/modifiers)
    val askRe = "(?is)ASK\\s*\\{(.*)\\}\\s*".r
    normalized match {
      case askRe(body) =>
        val patterns = splitPatterns(body, fresh)
        require(patterns.nonEmpty, "empty BGP")
        return BgpQuery(Nil, patterns, ask = true)
      case _ =>
    }
    // DESCRIBE ?v WHERE { bgp }: the WHERE group selects the resources to
    // describe — parsed as an inner SELECT ?v query and planned as a
    // semi-join of the triple store against its distinct bindings.
    val descVarRe = "(?is)DESCRIBE\\s+\\?(\\w+)\\s+WHERE\\s*\\{(.*)\\}\\s*".r
    normalized match {
      case descVarRe(v, body) =>
        val patterns = splitPatterns(body, fresh)
        require(patterns.nonEmpty, "empty BGP")
        require(patterns.exists(p => Seq(p.s, p.p, p.o).contains(Variable(v))),
          s"DESCRIBE variable ?$v is not bound by the WHERE group")
        return BgpQuery(Nil, Nil,
          describeWhere = Some(BgpQuery(Seq(v), patterns)))
      case _ =>
    }
    // DESCRIBE <term>: every triple mentioning the resource (the subset's
    // concise-bounded-description — subject OR object position)
    // greedy term capture: quoted lexical forms may contain spaces (the
    // dictionary supports multi-word terms)
    val descRe = "(?i)DESCRIBE\\s+(.+?)\\s*".r
    normalized match {
      case descRe(term) =>
        require(!term.startsWith("?"),
          "DESCRIBE ?var needs a WHERE group in the subset")
        return BgpQuery(Nil, Nil,
          describeTerm = Some(Constant(graft.core.Dictionary.normalizeTerm(term))))
      case _ =>
    }
    // CONSTRUCT WHERE { bgp }: the SPARQL 1.1 shorthand — template ==
    // pattern group. Plain triples only per the grammar: parsing WITHOUT a
    // fresh-variable supply makes any path syntax fail loudly instead of
    // being rewritten into triples the template could not have contained.
    val consWhereRe = "(?is)CONSTRUCT\\s+WHERE\\s*\\{(.*)\\}\\s*".r
    normalized match {
      case consWhereRe(body) =>
        val patterns = splitPatterns(body)
        require(patterns.nonEmpty, "empty BGP")
        return BgpQuery(Nil, patterns, constructTemplate = patterns)
      case _ =>
    }
    // CONSTRUCT: template triples instantiated per solution (set semantics)
    val consRe = "(?is)CONSTRUCT\\s*\\{(.*?)\\}\\s*WHERE\\s*\\{(.*)\\}\\s*".r
    normalized match {
      case consRe(template, body) =>
        val tmpl = splitPatterns(template)
        val patterns = splitPatterns(body, fresh)
        require(tmpl.nonEmpty, "empty CONSTRUCT template")
        require(patterns.nonEmpty, "empty BGP")
        return BgpQuery(Nil, patterns, constructTemplate = tmpl)
      case _ =>
    }
    // Trailing ValuesClauses (the SPARQL-standard position, after the
    // solution modifiers): strip them first, last to first — the greedy
    // body regex below would otherwise swallow their braces.
    var work = normalized
    val trailing = scala.collection.mutable.ListBuffer.empty[ValuesBlock]
    val trailingRe = (valuesBlock + "\\s*$").r
    var more = true
    while (more) trailingRe.findFirstMatchIn(work) match {
      case Some(m) =>
        parseValues(m) +=: trailing
        work = work.substring(0, m.start).trim
      case None => more = false
    }
    val (trailingValues, trailingValuesMulti) = trailing.toList.partitionMap(identity)
    // body = up to the LAST closing brace (greedy — union arms contain
    // braces); tail = the solution-modifier clauses after it
    val re = "(?is)SELECT\\s+(.*?)\\s+WHERE\\s*\\{(.*)\\}(.*)".r
    work match {
      case re(proj, rawBody, tail) =>
        val up = proj.trim.toUpperCase
        val modifierLen =
          if (up.startsWith("DISTINCT ")) "DISTINCT ".length
          else if (up.startsWith("REDUCED ")) "REDUCED ".length
          else 0
        // REDUCED permits (without requiring) duplicate elimination —
        // implementing it as DISTINCT is conformant and deterministic
        val distinct = modifierLen > 0
        val projTerms = proj.trim.substring(modifierLen)
        val (projection, countAggs) = parseProjection(projTerms.trim)
        val (orderBy, limit, offset, groupByVars, havings) = parseModifiers(tail.trim)
        // Top-level UNION: the whole body is `{ bgp } UNION { bgp } ...`
        // (checked exhaustively, so OPTIONAL/FILTER extraction below never
        // misreads an arm's braces).
        if (rawBody.matches("(?is)\\s*\\{[^{}]*\\}(\\s*UNION\\s*\\{[^{}]*\\})+\\s*")) {
          val arms = "\\{([^{}]*)\\}".r.findAllMatchIn(rawBody)
            .map(m => splitPatterns(m.group(1), fresh)).toSeq
          require(arms.forall(_.nonEmpty), "empty UNION arm")
          return BgpQuery(projection, Nil, Nil, limit, Nil, distinct,
            unionArms = arms, orderBy = orderBy, offset = offset,
            groupByVars = groupByVars, countAggs = countAggs,
            havings = havings, inlineValues = trailingValues,
            // multi-variable trailing VALUES restrict a union exactly like
            // the single-variable form (the planner's withValuesMulti path
            // is union-aware) — dropping them here would silently return
            // the unrestricted union
            inlineValuesMulti = trailingValuesMulti)
        }
        // Subqueries `{ SELECT … WHERE { … } … }` (SPARQL 1.1 SubSelect as a
        // GroupGraphPattern): extracted before every one-level group regex
        // below — their nested WHERE braces would defeat those — and parsed
        // RECURSIVELY as full queries (aggregates/modifiers included). One
        // nesting level in the subset (a subquery cannot hold a subquery).
        val subqRe = "(?is)\\{\\s*(SELECT\\s+[^{}]*\\{[^{}]*\\}[^{}]*)\\}".r
        val subqueries = subqRe.findAllMatchIn(rawBody).map(m => parse(m.group(1).trim)).toSeq
        val withoutSubq = subqRe.replaceAllIn(rawBody, " ")
        // VALUES blocks first (their braces hold constants, not patterns).
        val valuesRe = valuesBlock.r
        val (inlineValues, inlineValuesMulti) =
          valuesRe.findAllMatchIn(withoutSubq).map(parseValues).toList.partitionMap(identity)
        val withoutValues = valuesRe.replaceAllIn(withoutSubq, " ")
        // GRAPH groups (SPARQL named graphs): `GRAPH <term|?var> { bgp }` —
        // the term/variable names the graph, the patterns scope to it. Same
        // one-level brace shape as OPTIONAL/MINUS.
        val graphRe = "(?i)GRAPH\\s+('[^']*'|\\S+)\\s*\\{([^{}]*)\\}".r
        val graphGroups = graphRe.findAllMatchIn(withoutValues).map { m =>
          (toTerm(m.group(1)), splitPatterns(m.group(2), fresh))
        }.toSeq
        graphGroups.foreach { case (_, pats) =>
          require(pats.nonEmpty, "empty GRAPH group") }
        val withoutGraph = graphRe.replaceAllIn(withoutValues, " ")
        // FILTER [NOT] EXISTS groups FIRST (their brace blocks sit inside
        // FILTER parens — extracting them before the plain-group regexes
        // keeps those from misreading the braces). Unlike MINUS, EXISTS
        // correlates on shared variables AND applies with none shared.
        // Both SPARQL 1.1 grammar forms: `FILTER EXISTS { … }` (Constraint
        // ::= BuiltInCall, no parens — the primary form) and the
        // parenthesized `FILTER(EXISTS { … })`; the optional paren pair is
        // consumed together (greedy), never leaving a dangling `)`.
        val existsRe = "(?i)FILTER\\s*(?:\\(\\s*)?(NOT\\s+)?EXISTS\\s*\\{([^{}]*)\\}(?:\\s*\\))?".r
        val existsFilters = existsRe.findAllMatchIn(withoutGraph).map { m =>
          (splitPatterns(m.group(2), fresh), m.group(1) != null)
        }.toSeq
        val withoutExists = existsRe.replaceAllIn(withoutGraph, " ")
        // MINUS groups (negation): remove solutions compatible with the
        // minus pattern on shared variables.
        val minusRe = "(?i)MINUS\\s*\\{([^{}]*)\\}".r
        val minuses = minusRe.findAllMatchIn(withoutExists)
          .map(m => splitPatterns(m.group(1), fresh)).toSeq
        val withoutMinus = minusRe.replaceAllIn(withoutExists, " ")
        // FILTER grammar: up to two nesting levels inside the parens —
        // BOUND(?v) is one, STRSTARTS(STR(?v), 'x') is two
        val filterRe = ("(?i)FILTER\\s*\\(\\s*" +
          "((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*?)\\s*\\)").r
        // OPTIONAL groups next (their braces enclose plain BGPs — no
        // nesting in the subset). A FILTER INSIDE the group scopes to the
        // group: it restricts the optional side BEFORE the left join
        // (subset rule: its variables must be bound inside the group).
        val optionalRe = "(?i)OPTIONAL\\s*\\{([^{}]*)\\}".r
        val optParsed = optionalRe.findAllMatchIn(withoutMinus).map { m =>
          val body = m.group(1)
          val fs = filterRe.findAllMatchIn(body).map(c => parseFilterExpr(c.group(1))).toSeq
          (splitPatterns(filterRe.replaceAllIn(body, " "), fresh), fs)
        }.toSeq
        val optionals = optParsed.map(_._1)
        val optionalFilters = optParsed.map(_._2)
        val withoutOpt = optionalRe.replaceAllIn(withoutMinus, " ")
        // BIND clauses: `BIND(term AS ?alias)` / `BIND(?var AS ?alias)` —
        // extracted like FILTER (no dot separator required); the alias
        // becomes a visible binding evaluated after the pattern joins.
        // an optional single arithmetic step (`?x + 1`, `?a - ?b`, `?x * 3`)
        // makes the alias a computed integer binding; `/` is rejected (the
        // xsd:decimal division result has no home in the id domain)
        // BIND(COALESCE(t1, t2, …) AS ?alias) — arguments are plain terms
        // (quoted lexicals with commas/parens are outside the subset);
        // extracted before the generic form so `\S+?` never eats a call.
        val bindCoalesceRe =
          "(?i)BIND\\s*\\(\\s*COALESCE\\s*\\(([^()]*)\\)\\s+AS\\s+\\?(\\w+)\\s*\\)".r
        val coalesceBinds = bindCoalesceRe.findAllMatchIn(withoutOpt).map { m =>
          val terms = m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(toTerm)
          require(terms.nonEmpty, "COALESCE needs at least one argument")
          (BindCoalesce(terms): BindExpr, m.group(2))
        }.toSeq
        val withoutCoalesce = bindCoalesceRe.replaceAllIn(withoutOpt, " ")
        // BIND(IF(cond, then, else) AS ?alias) — cond is one FILTER atom
        // (one paren level allowed for BOUND(?v)); then/else are terms.
        val bindIfRe = ("(?i)BIND\\s*\\(\\s*IF\\s*\\(\\s*((?:[^(),]|\\([^()]*\\))+?)\\s*," +
          "\\s*([^(),]+?)\\s*,\\s*([^(),]+?)\\s*\\)\\s+AS\\s+\\?(\\w+)\\s*\\)").r
        val ifBinds = bindIfRe.findAllMatchIn(withoutCoalesce).map { m =>
          val cond = parseFilter(m.group(1).trim)
          require(!FilterOp.isLexical(cond.op) &&
              cond.op != FilterIn && cond.op != FilterNotIn,
            "IF condition subset is ?var cmp term and [!]BOUND(?var)")
          (BindIf(cond, toTerm(m.group(2)), toTerm(m.group(3))): BindExpr, m.group(4))
        }.toSeq
        val withoutIf = bindIfRe.replaceAllIn(withoutCoalesce, " ")
        val bindRe = ("(?i)BIND\\s*\\(\\s*('[^']*'|\\S+?)" +
          "(?:\\s*([+*/-])\\s*('[^']*'|\\S+?))?\\s+AS\\s+\\?(\\w+)\\s*\\)").r
        val plainBinds = bindRe.findAllMatchIn(withoutIf).map { m =>
          val expr: BindExpr =
            if (m.group(2) == null) BindTerm(toTerm(m.group(1)))
            else {
              require(m.group(2) != "/",
                "unsupported BIND operator '/' (subset is + - *)")
              BindArith(toTerm(m.group(1)), m.group(2).head, toTerm(m.group(3)))
            }
          (expr, m.group(4))
        }.toSeq
        // SPARQL evaluates BIND in pattern order: a later BIND may
        // reference any earlier alias (arithmetic feeding IF as much as
        // IF feeding arithmetic). The three extraction passes ran over
        // progressively stripped text, so restore SOURCE order by each
        // alias's `AS ?alias` position (aliases are unique — the planner
        // rejects rebinding).
        val binds = (coalesceBinds ++ ifBinds ++ plainBinds).sortBy {
          case (_, alias) =>
            ("(?i)AS\\s+\\?" + java.util.regex.Pattern.quote(alias) + "\\b").r
              .findFirstMatchIn(withoutOpt).map(_.start).getOrElse(Int.MaxValue)
        }
        val withoutBind = bindRe.replaceAllIn(withoutIf, " ")
        // FILTER clauses: extract (they need no dot separator in SPARQL),
        // then parse the remaining segments as triple patterns
        val filters =
          filterRe.findAllMatchIn(withoutBind).map(m => parseFilterExpr(m.group(1))).toSeq
        val body = filterRe.replaceAllIn(withoutBind, " ")
        val patterns = splitPatterns(body, fresh)
        require(patterns.nonEmpty || subqueries.nonEmpty || graphGroups.nonEmpty,
          "empty BGP")
        BgpQuery(projection, patterns, filters, limit,
          optionals, distinct, orderBy = orderBy, offset = offset,
          groupByVars = groupByVars, countAggs = countAggs, havings = havings,
          optionalFilters = optionalFilters,
          inlineValues = inlineValues ++ trailingValues,
          inlineValuesMulti = inlineValuesMulti ++ trailingValuesMulti,
          minuses = minuses, binds = binds, existsFilters = existsFilters,
          subqueries = subqueries,
          graphGroups = graphGroups)
      case _ => throw new IllegalArgumentException(s"unsupported SPARQL: $query")
    }
  }

  /** Projection list: `*`, or a sequence of `?var` and
    * `(COUNT|SUM|MIN|MAX([DISTINCT] ?v | *) AS ?alias)` items. Returns the
    * output column order (vars and aliases interleaved as written) plus the
    * aggregate specs.
    */
  private def parseProjection(proj: String): (Seq[String], Seq[CountAgg]) = {
    if (proj == "*") return (Nil, Nil)
    val itemRe =
      ("(?i)\\(\\s*(COUNT|SUM|MIN|MAX|AVG|SAMPLE|GROUP_CONCAT)\\s*\\(\\s*(DISTINCT\\s+)?(\\*|\\?\\w+)\\s*\\)\\s+AS\\s+\\?(\\w+)\\s*\\)" +
        "|\\?(\\w+)").r
    val matches = itemRe.findAllMatchIn(proj).toSeq
    require(matches.nonEmpty &&
      itemRe.replaceAllIn(proj, " ").trim.isEmpty,
      s"projection must be variables, aggregates, or *, got: $proj")
    val aggs = scala.collection.mutable.ArrayBuffer.empty[CountAgg]
    val order = matches.map { m =>
      if (m.group(5) != null) m.group(5)
      else {
        val fn = m.group(1).toUpperCase
        val v = if (m.group(3) == "*") None else Some(m.group(3).substring(1))
        require(v.isDefined || fn == "COUNT", s"$fn(*) is not valid SPARQL")
        require(v.isDefined || m.group(2) == null, "COUNT(DISTINCT *) is not valid SPARQL")
        require(m.group(2) == null || fn == "COUNT" || fn == "SUM",
          s"DISTINCT is only valid with COUNT/SUM, got $fn")
        aggs += CountAgg(v, m.group(2) != null, m.group(4), fn)
        m.group(4)
      }
    }
    (order, aggs.toSeq)
  }

  /** Solution modifiers after the WHERE group:
    * `[GROUP BY ?v+] [ORDER BY (?v | ASC(?v) | DESC(?v))+] [LIMIT n]
    * [OFFSET m]` (LIMIT/OFFSET in either order, per the SPARQL
    * LimitOffsetClauses rule).
    */
  private def parseModifiers(tail: String): (Seq[(String, Boolean)],
      Option[Int], Option[Int], Seq[String], Seq[HavingCond]) = {
    if (tail.isEmpty) return (Nil, None, None, Nil, Nil)
    val groupRe = "(?i)GROUP\\s+BY((?:\\s+\\?\\w+)+)".r
    val groupByVars = groupRe.findFirstMatchIn(tail).map { m =>
      "\\?(\\w+)".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
    }.getOrElse(Nil)
    val afterGroupBy = groupRe.replaceAllIn(tail, " ")
    // HAVING: one or more parenthesized aggregate comparisons against an
    // integer literal (the SPARQL HavingClause restricted to the subset's
    // aggregate grammar)
    val havingRe = ("(?i)HAVING((?:\\s*\\(\\s*(?:COUNT|SUM|MIN|MAX|AVG)\\s*\\(\\s*" +
      s"(?:\\*|\\?\\w+)\\s*\\)\\s*(?:$comparisonRe)\\s*-?\\d+\\s*\\))+)").r
    val condRe = ("(?i)\\(\\s*(COUNT|SUM|MIN|MAX|AVG)\\s*\\(\\s*" +
      s"(\\*|\\?\\w+)\\s*\\)\\s*($comparisonRe)\\s*(-?\\d+)\\s*\\)").r
    val havings = havingRe.findFirstMatchIn(afterGroupBy).map { m =>
      condRe.findAllMatchIn(m.group(1)).map { c =>
        val v = if (c.group(2) == "*") None else Some(c.group(2).substring(1))
        require(v.isDefined || c.group(1).equalsIgnoreCase("COUNT"),
          s"${c.group(1)}(*) is not valid SPARQL")
        HavingCond(c.group(1).toUpperCase, v, comparison(c.group(3)), c.group(4).toLong)
      }.toSeq
    }.getOrElse(Nil)
    val afterGroup = havingRe.replaceAllIn(afterGroupBy, " ")
    val orderItem = "(?i)(?:(ASC|DESC)\\s*\\(\\s*\\?(\\w+)\\s*\\)|\\?(\\w+))"
    val orderRe = s"(?i)ORDER\\s+BY((?:\\s*$orderItem)+)".r
    val orderBy = orderRe.findFirstMatchIn(afterGroup).map { m =>
      orderItem.r.findAllMatchIn(m.group(1)).map { it =>
        if (it.group(3) != null) (it.group(3), true)
        else (it.group(2), !it.group(1).equalsIgnoreCase("DESC"))
      }.toSeq
    }.getOrElse(Nil)
    val rest = orderRe.replaceAllIn(afterGroup, " ")
    val limit = "(?i)LIMIT\\s+(\\d+)".r.findFirstMatchIn(rest).map(_.group(1).toInt)
    val offset = "(?i)OFFSET\\s+(\\d+)".r.findFirstMatchIn(rest).map(_.group(1).toInt)
    val leftover = "(?i)(LIMIT|OFFSET)\\s+\\d+".r.replaceAllIn(rest, " ").trim
    require(leftover.isEmpty, s"unsupported solution modifiers: $leftover")
    (orderBy, limit, offset, groupByVars, havings)
  }

  /** Split a brace-free pattern group on dots DELIMITED BY WHITESPACE (or
    * line end) and outside quotes — dots inside <uri>s or quoted literals
    * don't split. With a `fresh` variable supply, predicate positions may be
    * property paths (see [[expandPattern]]; `fresh = null` in CONSTRUCT
    * templates, where paths are not triples).
    */
  private def splitPatterns(body: String, fresh: () => String = null): Seq[TriplePattern] =
    body.split("\\s+\\.(?=\\s|$)(?=(?:[^']*'[^']*')*[^']*$)")
      .map(_.trim).filter(s => s.nonEmpty && s != ".").toSeq
      .flatMap(t => expandPattern(t, fresh))

  /** One SPARQL 1.1 ValuesClause, single-variable (`VALUES ?v { 'x' … }`)
    * or multi-variable (`VALUES (?a ?b) { ('x' 'y') … }`, rows of
    * parenthesized tuples, one constant or UNDEF per variable).
    */
  private type ValuesBlock =
    Either[(String, Seq[Constant]), (Seq[String], Seq[Seq[Option[Constant]]])]
  private val valuesBlock =
    "(?i)VALUES(?:\\s+\\?(\\w+)|\\s*\\(([^()]*)\\))\\s*\\{([^{}]*)\\}"

  /** Parse one [[valuesBlock]] match. Variables must be distinct (SPARQL
    * DataBlock grammar); every row carries one term per variable, and every
    * term is a constant (or, in a multi-variable row, UNDEF).
    */
  private def parseValues(m: scala.util.matching.Regex.Match): ValuesBlock = {
    def constant(t: String, text: String): Constant = toTerm(t) match {
      case c: Constant => c
      case _ => throw new IllegalArgumentException(s"VALUES terms must be constants: $text")
    }
    val rowText = m.group(3)
    if (m.group(1) != null) {
      val terms = tokenize(rowText.trim).toSeq
      require(terms.nonEmpty, s"VALUES terms must be constants: $rowText")
      return Left(m.group(1) -> terms.map(constant(_, rowText)))
    }
    val varText = m.group(2)
    val vars = "\\?(\\w+)".r.findAllMatchIn(varText).map(_.group(1)).toSeq
    require(vars.nonEmpty, s"VALUES needs variables: $varText")
    require(vars.distinct.size == vars.size,
      s"duplicate VALUES variables: ${vars.mkString(", ")}")
    val rows = "\\(([^()]*)\\)".r.findAllMatchIn(rowText).map { r =>
      val terms = tokenize(r.group(1).trim).toSeq.map {
        case u if u.equalsIgnoreCase("UNDEF") => None // per-row wildcard
        case t => Some(constant(t, r.group(1)))
      }
      require(terms.length == vars.length,
        s"VALUES row needs ${vars.length} terms: ${r.group(1)}")
      terms
    }.toSeq
    require(rows.nonEmpty, s"VALUES needs at least one row: $rowText")
    Right(vars -> rows)
  }

  /** One pattern text → its plain patterns, or one pattern whose predicate
    * is a [[PathTerm]]. A lone `^name` swaps subject and object; a sequence
    * of single names, each optionally `^`-inverted, chains n plain patterns
    * through n-1 fresh intermediate variables, so it plans as one static
    * join. Without a fresh-variable supply (CONSTRUCT templates) any path
    * syntax fails: a path is not a triple.
    */
  private def expandPattern(text: String, fresh: () => String): Seq[TriplePattern] = {
    val toks = tokenize(text)
    require(toks.length == 3, s"triple pattern needs 3 terms, got ${toks.length} in: $text")
    val p = toks(1)
    // quoted literals and raw URIs are lexical forms, never path syntax
    if ("?'<".contains(p.head) || !p.exists(c => "/|+*?^!(){}".contains(c)))
      return Seq(parsePattern(text))
    def unsupported = new IllegalArgumentException(s"unsupported property path: $p")
    if (fresh == null) throw unsupported
    def pattern(s: String, pred: Term, o: String) = TriplePattern(toTerm(s), pred, toTerm(o))
    val path = parsePath(p)
    val chain = path match {
      case PathSeq(ps) if ps.forall(singleLink) => ps
      case x if singleLink(x) => Seq(x)
      case _ => Nil
    }
    if (chain.nonEmpty) {
      val nodes = toks(0) +: Seq.fill(chain.length - 1)("?" + fresh()) :+ toks(2)
      chain.zipWithIndex.map {
        case (Inv(x), i) => pattern(nodes(i + 1), Constant(x.preds.head), nodes(i))
        case (x, i) => pattern(nodes(i), Constant(x.preds.head), nodes(i + 1))
      }
    }
    else if (evaluated(path)) Seq(pattern(toks(0), PathTerm(path), toks(2)))
    else throw unsupported
  }

  private def singleLink(p: Path): Boolean = p match {
    case Link(_) | Inv(Link(_)) => true
    case _ => false
  }

  /** The subset of [[Path]] the planner evaluates (listed on [[Path]]),
    * beyond the plain patterns the parser rewrites.
    */
  private def evaluated(path: Path): Boolean = {
    def names(p: Path) = p match {
      case Link(_) => true
      case Alt(ps) => ps.forall(_.isInstanceOf[Link])
      case _ => false
    }
    def step(p: Path) = names(p) || (p match {
      case Inv(x) => names(x)
      case _ => false
    })
    def modifier(lo: Int, hi: Option[Int]) = hi.isEmpty && lo <= 1 || lo == 0 && hi.contains(1)
    path match {
      case NegSet(_) => true
      case Rep(e, lo, hi) if !modifier(lo, hi) => names(e)
      case Rep(e, _, _) => step(e) || (e match {
        case NegSet(_) => true
        case Alt(ms) => ms.forall(singleLink)
        case PathSeq(ps) => ps.forall(step)
        case _ => false
      })
      case PathSeq(ps) => ps.forall {
        case Rep(e, lo, hi) => modifier(lo, hi) && step(e)
        case e => step(e)
      }
      case _ => false
    }
  }

  private val pathNameRe = ":?\\w+".r
  private val digitsRe = "\\d+".r

  /** Parse one property-path token by the grammar on [[Path]]. */
  private def parsePath(text: String): Path = {
    var i = 0
    def fail() = throw new IllegalArgumentException(s"unsupported property path: $text")
    def eat(c: Char): Boolean = {
      val hit = i < text.length && text.charAt(i) == c
      if (hit) i += 1
      hit
    }
    def expect(c: Char): Unit = if (!eat(c)) fail()
    def token(re: scala.util.matching.Regex): Option[String] = {
      val m = re.findPrefixOf(text.substring(i))
      m.foreach(t => i += t.length)
      m
    }
    def name(): String = token(pathNameRe).getOrElse(fail())
    def sepBy[A](sep: Char)(one: => A): Seq[A] = {
      val out = scala.collection.mutable.ListBuffer(one)
      while (eat(sep)) out += one
      out.toList
    }
    def alt(): Path = sepBy('|')(seq()) match {
      case Seq(p) => p
      case ps => Alt(ps)
    }
    def seq(): Path = sepBy('/')(elt()) match {
      case Seq(p) => p
      case ps => PathSeq(ps)
    }
    def elt(): Path =
      if (eat('^')) elt() match {
        case Rep(p, lo, hi) => Rep(Inv(p), lo, hi)
        case p => Inv(p)
      }
      else modified(primary())
    def primary(): Path =
      if (eat('!')) NegSet(
        if (eat('(')) { val ns = sepBy('|')(name()); expect(')'); ns }
        else Seq(name()))
      else if (eat('(')) { val p = alt(); expect(')'); p }
      else Link(name())
    def modified(p: Path): Path =
      if (eat('+')) Rep(p, 1, None)
      else if (eat('*')) Rep(p, 0, None)
      else if (eat('?')) Rep(p, 0, Some(1))
      else if (eat('{')) {
        val n = token(digitsRe).getOrElse(fail()).toInt
        val m = if (eat(',')) token(digitsRe).map(_.toInt) else Some(n)
        expect('}')
        require(m.forall(_ >= n), s"path quantifier needs n <= m: $text")
        // the bounded composition is one join per level — cap the plan
        // depth the syntax can demand
        require(n <= 20 && m.forall(_ <= 20),
          s"path quantifier bound beyond the subset's 20-level cap: $text")
        Rep(p, n, m)
      }
      else p
    val path = alt()
    if (i != text.length) fail()
    path
  }

  /** Split on a two-character operator (`||` / `&&`) at paren depth 0 and
    * outside single quotes.
    */
  private def splitTop(s: String, sep: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') { inQuote = !inQuote; cur += c; i += 1 }
      else if (inQuote) { cur += c; i += 1 }
      else if (c == '(') { depth += 1; cur += c; i += 1 }
      else if (c == ')') { depth -= 1; cur += c; i += 1 }
      else if (depth == 0 && i + 1 < s.length && s.substring(i, i + 2) == sep) {
        out += cur.toString; cur.clear(); i += 2
      }
      else { cur += c; i += 1 }
    }
    out += cur.toString
    out.toSeq
  }

  /** One FILTER constraint → its condition tree: `||` at lowest precedence,
    * `&&` above it (the SPARQL ConditionalOr/ConditionalAnd nesting), atoms
    * at the leaves. No parenthesized grouping in the subset.
    */
  private def parseFilterExpr(cond: String): FilterExpr = {
    val orParts = splitTop(cond, "||")
    if (orParts.length > 1)
      return orParts.map(parseFilterExpr).reduceLeft(FilterOr.apply)
    val andParts = splitTop(cond, "&&")
    if (andParts.length > 1)
      return andParts.map(parseFilterExpr).reduceLeft(FilterAnd.apply)
    FilterLeaf(parseFilter(cond))
  }

  /** The six comparison tokens, longest first, as a regex alternation. */
  private val comparisonRe = "!=|<=|>=|=|<|>"

  /** A comparison token (FILTER, STRLEN and HAVING alike) as its op. */
  private def comparison(token: String): FilterOp = token match {
    case "=" => FilterEq
    case "!=" => FilterNeq
    case "<" => FilterLt
    case "<=" => FilterLe
    case ">" => FilterGt
    case ">=" => FilterGe
  }

  private def parseFilter(cond: String): FilterCond = {
    val condRe = s"\\?(\\w+)\\s*($comparisonRe)\\s*(.+)".r
    val boundRe = "(?i)(!)?\\s*BOUND\\s*\\(\\s*\\?(\\w+)\\s*\\)".r
    // SPARQL regex strings are double-quoted; the subset's lexical forms are
    // single-quoted — accept either
    val regexRe = "(?i)(!)?\\s*REGEX\\s*\\(\\s*\\?(\\w+)\\s*,\\s*['\"]([^'\"]*)['\"]\\s*\\)".r
    // `?var [NOT] IN (t1, t2, …)` — the ExpressionList terms must be
    // constants in the subset (SPARQL allows expressions; a variable on the
    // list would need per-row equality semantics the encoded-id isin can't
    // carry)
    val inRe = "(?i)\\?(\\w+)\\s+(NOT\\s+)?IN\\s*\\(([^()]*)\\)".r
    // STRSTARTS/STRENDS/CONTAINS over the decoded lexical form; the STR()
    // wrapper is optional (and implied — the subset's variables are
    // dictionary ids, so the lexical form is always what's matched)
    val strFnRe = ("(?i)(!)?\\s*(STRSTARTS|STRENDS|CONTAINS)\\s*\\(\\s*" +
      "(?:STR\\s*\\(\\s*)?\\?(\\w+)\\s*\\)?\\s*,\\s*['\"]([^'\"]*)['\"]\\s*\\)").r
    val strLenRe = ("(?i)STRLEN\\s*\\(\\s*(?:STR\\s*\\(\\s*)?\\?(\\w+)" +
      s"\\s*\\)?\\s*\\)\\s*($comparisonRe)\\s*(\\d+)").r
    cond.trim match {
      case strFnRe(neg, fn, v, arg) =>
        val op = (fn.toUpperCase, neg == null) match {
          case ("STRSTARTS", true)  => FilterStrStarts
          case ("STRSTARTS", false) => FilterNotStrStarts
          case ("STRENDS", true)    => FilterStrEnds
          case ("STRENDS", false)   => FilterNotStrEnds
          case ("CONTAINS", true)   => FilterStrContains
          case ("CONTAINS", false)  => FilterNotStrContains
          case other => throw new IllegalStateException(s"unreachable: $other")
        }
        FilterCond(v, op, Constant(arg))
      case strLenRe(v, op, n) => FilterCond(v, FilterStrLen(comparison(op)), Constant(n))
      case inRe(v, neg, listText) =>
        val terms = listText.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(toTerm)
        require(terms.nonEmpty, s"IN needs at least one term: $listText")
        require(terms.forall(_.isInstanceOf[Constant]),
          s"IN list terms must be constants in the subset: $listText")
        FilterCond(v, if (neg == null) FilterIn else FilterNotIn,
          Variable(v), values = terms)
      case boundRe(neg, v) =>
        FilterCond(v, if (neg == null) FilterBound else FilterNotBound, Variable(v))
      case regexRe(neg, v, pattern) =>
        // the pattern is NOT a dictionary term — carried raw in the value
        FilterCond(v, if (neg == null) FilterRegex else FilterNotRegex,
          Constant(pattern))
      case condRe(v, op, rhs) => FilterCond(v, comparison(op), toTerm(rhs.trim))
      case other => throw new IllegalArgumentException(
        "unsupported FILTER condition (subset is ?var =|!=|<|<=|>|>= term, " +
          "?var [NOT] IN (terms), [!]BOUND(?var), [!]regex(?var, 'pattern'), " +
          "[!]STRSTARTS|STRENDS|CONTAINS(STR(?var), 'arg'), " +
          s"STRLEN(STR(?var)) cmp n): $other")
    }
  }

  private[sparql] def parsePattern(text: String): TriplePattern = {
    val toks = tokenize(text)
    require(toks.length == 3, s"triple pattern needs 3 terms, got ${toks.length} in: $text")
    TriplePattern(toTerm(toks(0)), toTerm(toks(1)), toTerm(toks(2)))
  }

  /** Expand declared `ns:local` prefixed names OUTSIDE quoted literals and
    * angle-bracketed URIs (a quoted `'ns:x'` is a lexical form, not a
    * prefixed name). The replacement is the NORMALIZED form — the last
    * segment of `uri+local`, exactly what `<uri+local>` would reduce to —
    * so names inside property-path syntax (`ex:p/ex:q`, `ex:p+`, `!ex:p`)
    * stay plain tokens the path grammar still recognizes.
    */
  private def expandPrefixes(text: String, prefixes: Map[String, String]): String = {
    if (prefixes.isEmpty) return text
    val nameRe = "(\\w*):(\\w+)".r
    def expandRun(run: String): String =
      nameRe.replaceAllIn(run, m => prefixes.get(m.group(1)) match {
        case Some(uri) => java.util.regex.Matcher.quoteReplacement(
          graft.core.Dictionary.normalizeTerm(s"<$uri${m.group(2)}>"))
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
      })
    val out = new StringBuilder
    val run = new StringBuilder
    var inQuote = false
    var inAngle = false
    def flush(): Unit = { out ++= expandRun(run.toString); run.clear() }
    text.foreach {
      case '\'' => if (!inAngle) { if (!inQuote) flush(); inQuote = !inQuote; if (inQuote) out += '\'' else { out ++= run; run.clear(); out += '\'' } } else run += '\''
      case c if inQuote => out += c
      case '<' => flush(); inAngle = true; run += '<'
      case '>' if inAngle => run += '>'; out ++= run; run.clear(); inAngle = false
      case c => run += c
    }
    if (inQuote) out ++= run else flush()
    out.toString
  }

  /** Split on spaces outside single quotes (lexical forms may contain spaces,
    * as the reference dictionary's do — `PartitionQueryingSubject.java:66`'s
    * limit-2 split implies multi-word terms).
    */
  private def tokenize(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    s.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case c if c == ' ' && !inQuote =>
        if (cur.nonEmpty) { out += cur.toString; cur.clear() }
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.toArray
  }

  private[sparql] def toTerm(tok: String): Term =
    if (tok.startsWith("?")) Variable(tok.substring(1))
    else Constant(graft.core.Dictionary.normalizeTerm(tok))
}
