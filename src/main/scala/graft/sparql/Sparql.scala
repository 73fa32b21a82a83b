package graft.sparql

/** The SPARQL subset: its AST and its hand-written parser.
  *
  * The reference parses with Jena (`MyOpVisitorBase.java:48-52`) but only
  * ever consumes basic graph patterns; Jena is unavailable offline,
  * so the subset is parsed by hand, in two layers. [[Scan]] is the lexical
  * layer: quoted literals (`'…'`, `"…"`) and `<…>` IRIs are opaque, so text
  * inside them is never syntax and keeps its whitespace; whitespace runs
  * collapse outside them; `{}` and `()` nest. [[SparqlParser]] reads the
  * scanned items by this grammar (keywords in any case):
  * {{{
  * query    ::= prefix* ( SELECT [DISTINCT|REDUCED] proj WHERE where modifiers values*
  *                      | ASK bgp | CONSTRUCT WHERE bgp | CONSTRUCT bgp WHERE bgp
  *                      | DESCRIBE ?v WHERE bgp | DESCRIBE term )
  * prefix   ::= PREFIX ns: <iri>
  * where    ::= '{' (bgp (UNION bgp)+ | element*) '}'
  * element  ::= triple ['.'] | OPTIONAL optional | MINUS bgp | GRAPH term bgp
  *            | FILTER [NOT] EXISTS bgp | FILTER '(' [NOT] EXISTS bgp ')'
  *            | FILTER '(' cond ')' | BIND '(' expr AS ?v ')' | values
  *            | '{' SELECT proj WHERE where modifiers values* '}'
  * optional ::= '{' (triple ['.'] | FILTER '(' cond ')')* '}'
  * bgp      ::= '{' triple ('.' triple)* '}'
  * values   ::= VALUES ?v '{' term* '}' | VALUES '(' ?v* ')' '{' ('(' term* ')')* '}'
  * }}}
  * So the WHERE group nests one level: OPTIONAL, MINUS, GRAPH, EXISTS and
  * UNION arms hold triple patterns (OPTIONAL also FILTERs), a sub-SELECT a
  * whole WHERE group. Any other nesting, such as OPTIONAL inside OPTIONAL
  * or UNION beside patterns, fails naming the construct. Terms: `?var`,
  * `'literal'` (may be `:`-prefixed), `<uri>` (reduced to its last
  * segment), or a bare prefixed name; a predicate may be a property path.
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

/** The lexical layer of the subset, and the only code that knows its rule:
  * a `'…'` or `"…"` literal and a `<…>` IRI (no whitespace inside) are
  * opaque, whitespace runs collapse to one space outside them, and `{}` and
  * `()` nest. One left-to-right walk turns a text into its depth-0 items.
  */
private[sparql] object Scan {
  sealed trait Item {
    /** The item's text, whitespace collapsed outside literals and IRIs. */
    def text: String
    /** No whitespace separates this item from the one before it. */
    def glued: Boolean
  }
  /** A run without whitespace or brackets; `opaque` for one literal or
    * IRI. `||` and `&&` are atoms of their own. */
  final case class Atom(text: String, opaque: Boolean, glued: Boolean) extends Item
  /** A bracket pair and the items inside it. */
  final case class Group(open: Char, items: List[Item], glued: Boolean) extends Item {
    def text: String = s"$open${render(items)}${if (open == '{') '}' else ')'}"
  }

  /** A plain atom, upper-cased, so that keywords match in any case. */
  object Word {
    def unapply(i: Item): Option[String] = i match {
      case Atom(t, false, _) => Some(t.toUpperCase)
      case _ => None
    }
  }
  /** The items inside a `{}` group ([[Braces]]) or a `()` one ([[Parens]]). */
  final class Brackets(open: Char) {
    def unapply(i: Item): Option[List[Item]] = i match {
      case Group(`open`, items, _) => Some(items)
      case _ => None
    }
  }
  val Braces = new Brackets('{')
  val Parens = new Brackets('(')

  def render(items: Seq[Item]): String =
    items.zipWithIndex.map { case (it, k) => if (k == 0 || it.glued) it.text else " " + it.text }.mkString

  /** Each maximal run of glued items, rendered: the terms of a pattern. */
  def terms(items: Seq[Item]): Seq[String] =
    items.foldLeft(Vector.empty[String]) { (ts, it) =>
      if (it.glued && ts.nonEmpty) ts.init :+ (ts.last + it.text) else ts :+ it.text
    }

  /** `items` cut at each plain atom `sep`. */
  def split(items: List[Item], sep: String): List[List[Item]] =
    items.foldRight(List(List.empty[Item])) {
      case (Atom(`sep`, false, _), acc) => Nil :: acc
      case (it, acc) => (it :: acc.head) :: acc.tail
    }

  /** `f` applied to the text of every plain atom, at every depth. */
  def mapWords(items: List[Item])(f: String => String): List[Item] = items.map {
    case Atom(t, false, g) => Atom(f(t), opaque = false, g)
    case Group(o, is, g) => Group(o, mapWords(is)(f), g)
    case a => a
  }

  /** The depth-0 items of `text`. A bracket that nothing balances is an
    * ordinary character, so it reaches the parser inside a term. */
  def apply(text: String): List[Item] = {
    def iri(at: Int): Boolean = {
      val end = text.indexWhere(c => c == '>' || c.isWhitespace || "<{}|^`\\\"'".contains(c), at + 1)
      end > at && text.charAt(end) == '>'
    }
    var i = 0
    // the items up to the closer at the head of `closers` (Nil at top
    // level), which is consumed; None if the text ends first or a closer of
    // an enclosing group comes first
    def items(closers: List[Char]): Option[List[Item]] = {
      val out = scala.collection.mutable.ListBuffer.empty[Item]
      val word = new StringBuilder
      var glued = false
      def emit(item: Boolean => Item): Unit = { out += item(glued); glued = true }
      def flush(): Unit = if (word.nonEmpty) { emit(Atom(word.toString, opaque = false, _)); word.clear() }
      var result: Option[List[Item]] = null
      while (result == null) {
        if (i == text.length) {
          flush()
          result = if (closers.isEmpty) Some(out.toList) else None
        } else {
          val c = text.charAt(i)
          i += 1
          c match {
            case _ if c.isWhitespace => flush(); glued = false
            case '{' | '(' =>
              val from = i
              items((if (c == '{') '}' else ')') :: closers) match {
                case Some(inner) => flush(); emit(Group(c, inner, _))
                case None => i = from; word += c
              }
            case '}' | ')' if closers.headOption.contains(c) => flush(); result = Some(out.toList)
            case '}' | ')' if closers.contains(c) => result = None
            case '\'' | '"' | '<' if c != '<' || iri(i - 1) =>
              val end = text.indexOf(if (c == '<') '>' else c, i)
              if (end < 0) throw new IllegalArgumentException(s"unterminated $c in: $text")
              flush()
              emit(Atom(text.substring(i - 1, end + 1), opaque = true, _))
              i = end + 1
            case '|' | '&' if i < text.length && text.charAt(i) == c =>
              flush()
              emit(Atom(s"$c$c", opaque = false, _))
              i += 1
            case _ => word += c
          }
        }
      }
      result
    }
    items(Nil).get
  }
}

object SparqlParser {
  import Scan.{Atom, Braces, Item, Parens, Word, render}

  /** Parse the SPARQL subset. Unlike the reference — whose visitor keeps only
    * the LAST pattern of a multi-pattern BGP (static field overwritten per
    * iteration, `MyOpVisitorBase.java:42-45`) — all patterns are kept, making
    * multi-hop BGPs expressible (the generalization called for in SURVEY §2.3).
    */
  def parse(query: String): BgpQuery = {
    val (prefixes, items) = prologue(Scan(query), Map.empty)
    val expanded = if (prefixes.isEmpty) items else Scan.mapWords(items)(expandPrefixes(_, prefixes))
    def bgp(b: List[Item], context: String, fresh: () => String = freshSupply()) = {
      val ps = group(b, fresh, context).patterns
      require(ps.nonEmpty, "empty BGP")
      ps
    }
    expanded match {
      // ASK: boolean existence of any solution (no projection/modifiers)
      case Word("ASK") :: Braces(b) :: Nil => BgpQuery(Nil, bgp(b, "ASK"), ask = true)
      // DESCRIBE ?v WHERE { bgp }: the WHERE group selects the resources to
      // describe — parsed as an inner SELECT ?v query and planned as a
      // semi-join of the triple store against its distinct bindings.
      case Word("DESCRIBE") :: Atom(v, false, _) :: Word("WHERE") :: Braces(b) :: Nil
          if v.matches("\\?\\w+") =>
        val patterns = bgp(b, "DESCRIBE")
        require(patterns.exists(p => Seq(p.s, p.p, p.o).contains(Variable(v.tail))),
          s"DESCRIBE variable $v is not bound by the WHERE group")
        BgpQuery(Nil, Nil, describeWhere = Some(BgpQuery(Seq(v.tail), patterns)))
      // DESCRIBE <term>: every triple mentioning the resource (the subset's
      // concise-bounded-description — subject OR object position)
      case Word("DESCRIBE") :: term if term.nonEmpty =>
        require(!term.head.text.startsWith("?"),
          "DESCRIBE ?var needs a WHERE group in the subset")
        BgpQuery(Nil, Nil,
          describeTerm = Some(Constant(graft.core.Dictionary.normalizeTerm(render(term)))))
      // CONSTRUCT WHERE { bgp }: the SPARQL 1.1 shorthand — template ==
      // pattern group. Plain triples only per the grammar: parsing WITHOUT a
      // fresh-variable supply makes any path syntax fail loudly instead of
      // being rewritten into triples the template could not have contained.
      case Word("CONSTRUCT") :: Word("WHERE") :: Braces(b) :: Nil =>
        val patterns = bgp(b, "CONSTRUCT", null)
        BgpQuery(Nil, patterns, constructTemplate = patterns)
      // CONSTRUCT: template triples instantiated per solution (set semantics)
      case Word("CONSTRUCT") :: Braces(t) :: Word("WHERE") :: Braces(b) :: Nil =>
        val tmpl = triples(t, "CONSTRUCT template")
        require(tmpl.nonEmpty, "empty CONSTRUCT template")
        BgpQuery(Nil, bgp(b, "CONSTRUCT"), constructTemplate = tmpl)
      case Word("SELECT") :: rest => select(rest, query)
      case _ => throw new IllegalArgumentException(s"unsupported SPARQL: $query")
    }
  }

  /** The patterns of a group that may hold only triples, such as an update
    * template or a DATA block: property paths are not triples there. */
  private[sparql] def triples(items: List[Item], context: String): Seq[TriplePattern] =
    group(items, null, context).patterns

  /** Fresh-variable supply for path rewrites (sequence `:p/:q`, inverse
    * `^:p`): names carry the reserved `__path` prefix so the planner's star
    * projection hides them (SPARQL path-internal variables are not visible
    * bindings). One per query or sub-select — deterministic, race-free.
    */
  private def freshSupply(): () => String = {
    var n = 0
    () => { n += 1; s"__path$n" }
  }

  private val prefixDeclRe = "(\\w*):".r

  /** PREFIX declarations at the head of the query, as a map, and the items
    * after them. */
  @scala.annotation.tailrec
  private def prologue(items: List[Item], prefixes: Map[String, String])
      : (Map[String, String], List[Item]) = items match {
    case Word("PREFIX") :: Atom(prefixDeclRe(ns), false, _) :: Atom(iri, true, _) :: rest
        if iri.startsWith("<") =>
      prologue(rest, prefixes + (ns -> iri.substring(1, iri.length - 1)))
    case _ => (prefixes, items)
  }

  /** `SELECT [DISTINCT|REDUCED] proj WHERE { … } modifiers VALUES…`, the
    * items after SELECT; sub-selects parse the same way. */
  private def select(items: List[Item], query: String): BgpQuery = {
    val (proj, where) = items.span { case Word("WHERE") => false; case _ => true }
    val (body, tail) = where match {
      case _ :: Braces(b) :: t if proj.nonEmpty => (b, t)
      case _ => throw new IllegalArgumentException(s"unsupported SPARQL: $query")
    }
    // REDUCED permits (without requiring) duplicate elimination —
    // implementing it as DISTINCT is conformant and deterministic
    val distinct = proj.head match {
      case Word("DISTINCT" | "REDUCED") => true
      case _ => false
    }
    val (projection, countAggs) = parseProjection(render(if (distinct) proj.tail else proj))
    // ValuesClauses after the solution modifiers (the SPARQL-standard
    // position) join those written inside the group
    val (modifiers, values) = tail.span { case Word("VALUES") => false; case _ => true }
    val (orderBy, limit, offset, groupByVars, havings) = parseModifiers(render(modifiers))
    val q = trailingValues(values, group(body, freshSupply(), "WHERE"))
    require(q.unionArms.nonEmpty || q.patterns.nonEmpty || q.subqueries.nonEmpty ||
      q.graphGroups.nonEmpty, "empty BGP")
    q.copy(projection = projection, limit = limit, distinct = distinct, orderBy = orderBy,
      offset = offset, groupByVars = groupByVars, countAggs = countAggs, havings = havings)
  }

  /** The ValuesClauses after the solution modifiers, added to `q`. */
  @scala.annotation.tailrec
  private def trailingValues(items: List[Item], q: BgpQuery): BgpQuery = items match {
    case Nil => q
    case Word("VALUES") :: spec :: Braces(rows) :: rest => trailingValues(rest, withValues(q, spec, rows))
    case _ => throw new IllegalArgumentException(s"unsupported solution modifiers: ${render(items)}")
  }

  /** A group body split at depth 0, in source order, into its elements:
    * (construct, items). A triple's items run to a `.` or to the next
    * construct; the other elements come from [[construct]].
    */
  private def elements(items: List[Item]): List[(String, List[Item])] = {
    @scala.annotation.tailrec
    def go(rest: List[Item], triple: List[Item], out: List[(String, List[Item])])
        : List[(String, List[Item])] = {
      def done = if (triple.isEmpty) out else ("TRIPLE", triple.reverse) :: out
      rest match {
        case Nil => done.reverse
        case Atom(".", false, _) :: t => go(t, Nil, done)
        // a bracket or operator glued to a term is part of it: `:p{2}`
        case item :: t if item.glued && triple.nonEmpty => go(t, item :: triple, out)
        case item :: t => construct(rest) match {
          case Some((element, after)) => go(after, Nil, element :: done)
          case None => go(t, item :: triple, out)
        }
      }
    }
    go(items, Nil, Nil)
  }

  /** The construct that `items` starts with, if any, and the items after
    * it. FILTER, OPTIONAL, MINUS and EXISTS carry the items inside their
    * brackets, GRAPH its term and then those, VALUES its variable spec and
    * then its rows, a sub-SELECT its items, UNION its arm groups.
    */
  private def construct(items: List[Item]): Option[((String, List[Item]), List[Item])] = {
    @scala.annotation.tailrec
    def arms(rest: List[Item], acc: List[Item]): (List[Item], List[Item]) = rest match {
      case Word("UNION") :: (b @ Braces(_)) :: t => arms(t, b :: acc)
      case _ => (acc.reverse, rest)
    }
    items match {
      case Word(k @ ("OPTIONAL" | "MINUS")) :: Braces(b) :: t => Some((k -> b, t))
      case Word("GRAPH") :: (g: Atom) :: Braces(b) :: t => Some(("GRAPH" -> (g :: b), t))
      // FILTER [NOT] EXISTS, with or without the parentheses
      case Word("FILTER") :: Word("EXISTS") :: Braces(b) :: t => Some(("EXISTS" -> b, t))
      case Word("FILTER") :: Word("NOT") :: Word("EXISTS") :: Braces(b) :: t =>
        Some(("NOT EXISTS" -> b, t))
      case Word("FILTER") :: Parens(Word("EXISTS") :: Braces(b) :: Nil) :: t =>
        Some(("EXISTS" -> b, t))
      case Word("FILTER") :: Parens(Word("NOT") :: Word("EXISTS") :: Braces(b) :: Nil) :: t =>
        Some(("NOT EXISTS" -> b, t))
      case Word(k @ ("FILTER" | "BIND")) :: Parens(c) :: t => Some((k -> c, t))
      case Word("VALUES") :: spec :: Braces(b) :: t => Some(("VALUES" -> (spec :: b), t))
      case Braces(b @ (Word("SELECT") :: _)) :: t => Some(("SELECT" -> b.tail, t))
      case (b @ Braces(_)) :: t =>
        val (as, after) = arms(t, List(b))
        Some(("UNION" -> as, after))
      case _ => None
    }
  }

  /** One group: its elements folded into a [[BgpQuery]] in source order.
    * `context` names the enclosing construct: WHERE admits every element,
    * OPTIONAL triples and FILTERs, any other context triples only; a UNION
    * is the whole group or nothing.
    */
  private def group(items: List[Item], fresh: () => String, context: String): BgpQuery = {
    val parts = elements(items)
    parts.foldLeft(BgpQuery(Nil, Nil)) { case (q, (kind, body)) =>
      require(kind == "TRIPLE" || context == "WHERE" || context == "OPTIONAL" && kind == "FILTER",
        s"$kind inside $context is outside the subset")
      def patterns(b: List[Item], ctx: String) = group(b, fresh, ctx).patterns
      kind match {
        case "TRIPLE" => q.copy(patterns = q.patterns ++ expandPattern(body, fresh))
        case "OPTIONAL" =>
          // A FILTER INSIDE the group scopes to the group: it restricts the
          // optional side BEFORE the left join (subset rule: its variables
          // must be bound inside the group).
          val o = group(body, fresh, "OPTIONAL")
          q.copy(optionals = q.optionals :+ o.patterns,
            optionalFilters = q.optionalFilters :+ o.filters)
        // MINUS removes solutions compatible on shared variables; EXISTS
        // correlates on shared variables AND applies with none shared
        case "MINUS" => q.copy(minuses = q.minuses :+ patterns(body, kind))
        case "EXISTS" | "NOT EXISTS" =>
          q.copy(existsFilters = q.existsFilters :+ (patterns(body, kind) -> (kind != "EXISTS")))
        // `GRAPH <term|?var> { bgp }`: the term or variable names the graph,
        // the patterns scope to it
        case "GRAPH" =>
          val pats = patterns(body.tail, kind)
          require(pats.nonEmpty, "empty GRAPH group")
          q.copy(graphGroups = q.graphGroups :+ (toTerm(body.head.text) -> pats))
        case "FILTER" => q.copy(filters = q.filters :+ parseFilterExpr(body))
        // BIND in pattern order: a later BIND may reference an earlier alias
        case "BIND" => q.copy(binds = q.binds :+ parseBind(render(body)))
        case "VALUES" => withValues(q, body.head, body.tail)
        // a sub-select joins the enclosing solutions on its shared
        // projected variables; parsed as a full query (aggregates and
        // modifiers included)
        case "SELECT" => q.copy(subqueries = q.subqueries :+ select(body, render(body)))
        case "UNION" =>
          require(body.length > 1, s"a nested group without UNION is outside the subset: ${render(body)}")
          require(parts.length == 1, s"UNION next to other patterns is outside the subset: ${render(items)}")
          val arms = body.collect { case Braces(b) => patterns(b, "UNION arm") }
          require(arms.forall(_.nonEmpty), "empty UNION arm")
          q.copy(unionArms = arms)
      }
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

  /** One SPARQL 1.1 ValuesClause added to `q`: single-variable
    * (`VALUES ?v { 'x' … }`) or multi-variable (`VALUES (?a ?b) { ('x' 'y')
    * … }`, rows of parenthesized tuples, one constant or UNDEF per
    * variable). Variables must be distinct (SPARQL DataBlock grammar);
    * every row carries one term per variable, and every term is a constant
    * (or, in a multi-variable row, UNDEF).
    */
  private def withValues(q: BgpQuery, spec: Item, rows: List[Item]): BgpQuery = {
    def constant(t: String, text: String): Constant = toTerm(t) match {
      case c: Constant => c
      case _ => throw new IllegalArgumentException(s"VALUES terms must be constants: $text")
    }
    val rowText = render(rows)
    spec match {
      case Atom(v, false, _) if v.matches("\\?\\w+") =>
        val terms = Scan.terms(rows)
        require(terms.nonEmpty, s"VALUES terms must be constants: $rowText")
        q.copy(inlineValues = q.inlineValues :+ (v.tail -> terms.map(constant(_, rowText))))
      case Parens(vs) =>
        val vars = "\\?(\\w+)".r.findAllMatchIn(render(vs)).map(_.group(1)).toSeq
        require(vars.nonEmpty, s"VALUES needs variables: ${spec.text}")
        require(vars.distinct.size == vars.size,
          s"duplicate VALUES variables: ${vars.mkString(", ")}")
        val tuples = rows.map {
          case Parens(r) =>
            val terms = Scan.terms(r).map {
              case u if u.equalsIgnoreCase("UNDEF") => None // per-row wildcard
              case t => Some(constant(t, render(r)))
            }
            require(terms.length == vars.length,
              s"VALUES row needs ${vars.length} terms: ${render(r)}")
            terms
          case other => throw new IllegalArgumentException(
            s"VALUES row must be a parenthesized tuple: ${other.text}")
        }
        require(tuples.nonEmpty, s"VALUES needs at least one row: $rowText")
        q.copy(inlineValuesMulti = q.inlineValuesMulti :+ (vars -> tuples))
      case _ => throw new IllegalArgumentException(s"unsupported VALUES clause: ${spec.text}")
    }
  }

  // BIND(COALESCE(t1, t2, …) AS ?alias): arguments are plain terms (quoted
  // lexicals with commas/parens are outside the subset)
  private val bindCoalesceRe = "(?i)COALESCE\\s*\\(([^()]*)\\)\\s+AS\\s+\\?(\\w+)".r
  // BIND(IF(cond, then, else) AS ?alias): cond is one FILTER atom (one
  // paren level allowed for BOUND(?v)); then/else are terms
  private val bindIfRe = ("(?i)IF\\s*\\(\\s*((?:[^(),]|\\([^()]*\\))+?)\\s*," +
    "\\s*([^(),]+?)\\s*,\\s*([^(),]+?)\\s*\\)\\s+AS\\s+\\?(\\w+)").r
  // BIND(term AS ?alias), with an optional single arithmetic step (`?x + 1`,
  // `?a - ?b`, `?x * 3`) that makes the alias a computed integer binding;
  // `/` is rejected (the xsd:decimal division result has no home in the id
  // domain)
  private val bindRe = "(?i)('[^']*'|\\S+?)(?:\\s*([+*/-])\\s*('[^']*'|\\S+?))?\\s+AS\\s+\\?(\\w+)".r

  /** The text inside `BIND( … )` → (expression, alias). The alias becomes a
    * visible binding evaluated after the pattern joins. */
  private def parseBind(text: String): (BindExpr, String) = text match {
    case bindCoalesceRe(args, alias) =>
      val terms = args.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(toTerm)
      require(terms.nonEmpty, "COALESCE needs at least one argument")
      (BindCoalesce(terms), alias)
    case bindIfRe(c, thenT, elseT, alias) =>
      val cond = parseFilter(c.trim)
      require(!FilterOp.isLexical(cond.op) &&
          cond.op != FilterIn && cond.op != FilterNotIn,
        "IF condition subset is ?var cmp term and [!]BOUND(?var)")
      (BindIf(cond, toTerm(thenT), toTerm(elseT)), alias)
    case bindRe(l, null, _, alias) => (BindTerm(toTerm(l)), alias)
    case bindRe(l, op, r, alias) =>
      require(op != "/", "unsupported BIND operator '/' (subset is + - *)")
      (BindArith(toTerm(l), op.head, toTerm(r)), alias)
    case _ => throw new IllegalArgumentException(s"unsupported BIND: $text")
  }

  /** One triple's items → its plain patterns, or one pattern whose predicate
    * is a [[PathTerm]]. A lone `^name` swaps subject and object; a sequence
    * of single names, each optionally `^`-inverted, chains n plain patterns
    * through n-1 fresh intermediate variables, so it plans as one static
    * join. Without a fresh-variable supply (templates) any path syntax
    * fails: a path is not a triple.
    */
  private def expandPattern(items: List[Item], fresh: () => String): Seq[TriplePattern] = {
    val toks = Scan.terms(items)
    require(toks.length == 3,
      s"triple pattern needs 3 terms, got ${toks.length} in: ${render(items)}")
    val p = toks(1)
    def pattern(s: String, pred: Term, o: String) = TriplePattern(toTerm(s), pred, toTerm(o))
    // quoted literals and raw URIs are lexical forms, never path syntax
    if ("?'<".contains(p.head) || !p.exists(c => "/|+*?^!(){}".contains(c)))
      return Seq(pattern(toks(0), toTerm(p), toks(2)))
    def unsupported = new IllegalArgumentException(s"unsupported property path: $p")
    if (fresh == null) throw unsupported
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

  /** One FILTER constraint's items → its condition tree: `||` at lowest
    * precedence, `&&` above it (the SPARQL ConditionalOr/ConditionalAnd
    * nesting), atoms at the leaves. No parenthesized grouping in the subset.
    */
  private def parseFilterExpr(items: List[Item]): FilterExpr = Scan.split(items, "||") match {
    case List(one) => Scan.split(one, "&&") match {
      case List(atom) => FilterLeaf(parseFilter(render(atom)))
      case ands => ands.map(parseFilterExpr).reduceLeft(FilterAnd.apply)
    }
    case ors => ors.map(parseFilterExpr).reduceLeft(FilterOr.apply)
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

  private val prefixedNameRe = "(\\w*):(\\w+)".r

  /** Expand declared `ns:local` prefixed names in one plain atom (quoted
    * `'ns:x'` lexical forms and IRIs are opaque atoms, never expanded). The
    * replacement is the NORMALIZED form — the last segment of `uri+local`,
    * exactly what `<uri+local>` would reduce to — so names inside
    * property-path syntax (`ex:p/ex:q`, `ex:p+`, `!ex:p`) stay plain tokens
    * the path grammar still recognizes. Undeclared prefixed names (e.g. the
    * default `:p` forms the dictionary stores verbatim) pass through.
    */
  private def expandPrefixes(word: String, prefixes: Map[String, String]): String =
    prefixedNameRe.replaceAllIn(word, m => java.util.regex.Matcher.quoteReplacement(
      prefixes.get(m.group(1)) match {
        case Some(uri) => graft.core.Dictionary.normalizeTerm(s"<$uri${m.group(2)}>")
        case None => m.matched
      }))

  private[sparql] def toTerm(tok: String): Term =
    if (tok.startsWith("?")) Variable(tok.substring(1))
    else Constant(graft.core.Dictionary.normalizeTerm(tok))
}
