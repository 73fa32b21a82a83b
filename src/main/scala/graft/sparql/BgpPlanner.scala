package graft.sparql

import graft.core.{Dictionary, TripleSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compiles a basic graph pattern to a DataFrame plan over the triple table.
  *
  * Replaces the reference's 8-template SQL string generator
  * (`/root/reference/src/main/java/com/github/nkoutroumanis/MyOpVisitorBase.java:80-127`):
  * instead of emitting SQL text per bound/unbound case, each pattern becomes a
  * filtered scan and shared variables become equi-join conditions — the
  * general BGP→relational translation the reference's last-pattern-wins bug
  * (`MyOpVisitorBase.java:42-45`) prevented it from reaching.
  *
  * Sign routing (reference `MyOpVisitorBase.java:81-86,104-125`): when the
  * split layout is in use and a pattern's subject is bound, only the
  * sign-matching table is scanned; when the subject is a variable, the two
  * tables are UNION ALL'd (bag semantics, as the reference's `UNION ALL`).
  * With the `sign`-partitioned `Layouts.persistedLayout` the same effect
  * comes free from Catalyst partition pruning on a plain `sign = 'pos'`
  * filter.
  *
  * Scale notes: per-pattern constant filters are pushed into the parquet scan
  * by Catalyst (point predicates on int columns → row-group pruning via
  * min/max stats, strongest when the table is range-laid-out on that column —
  * `Layouts.rangeLayout`). Chain joins shuffle on the shared variable; with a
  * subject-bucketed table the exchange on the subject side is elided.
  */
object BgpPlanner {

  /** The triple store view the planner reads: either one table, or the
    * sign-split pair for routed scans.
    */
  sealed trait Store
  final case class SingleTable(df: DataFrame) extends Store
  final case class SplitTables(positive: DataFrame, negative: DataFrame) extends Store

  /** Every triple of `store`: the sign-split pair scans as its union. */
  private def allTriples(store: Store): DataFrame = store match {
    case SingleTable(df) => df
    case SplitTables(pos, neg) => pos.unionAll(neg)
  }

  /** Plan `query` over `store`, encoding constants through `dict`.
    * Output: one int column per distinct variable (projection order), encoded;
    * decode with `Dictionary.decode`. A constant term that is absent from the
    * dictionary yields an empty (not failing) result — it can match nothing.
    * `quads`: optional 4-column (Subject, Predicate, Object, Graph) store
    * backing `GRAPH` groups — absent, a GRAPH query fails loudly.
    */
  def plan(query: BgpQuery, store: Store, dict: Dictionary,
      quads: Option[DataFrame] = None): DataFrame = {
    // DESCRIBE: all triples with the term in subject OR object position —
    // the subject side sign-routes to ONE table (point predicate on the
    // layout key); the object side scans both. An unknown term describes
    // nothing.
    query.describeTerm.foreach { t =>
      val enc = dict.encodeTerms(Seq(t.lexical))
      val id = enc.get(t.lexical)
      val all = allTriples(store)
      val bySubject = (store, id) match {
        case (_, None) => return all.limit(0).select(
          col(TripleSchema.subject), col(TripleSchema.predicate), col(TripleSchema.objekt))
        case (SplitTables(pos, neg), Some(i)) =>
          (if (i >= 0) pos else neg).filter(col(TripleSchema.subject) === lit(i))
        case (SingleTable(df), Some(i)) => df.filter(col(TripleSchema.subject) === lit(i))
      }
      val byObject = all.filter(col(TripleSchema.objekt) === lit(id.get))
      // an RDF description is a SET of triples: dedup collapses the
      // double-emission of reflexive triples (term in both positions)
      return bySubject.unionAll(byObject).select(
        col(TripleSchema.subject), col(TripleSchema.predicate), col(TripleSchema.objekt))
        .distinct()
    }
    // DESCRIBE ?v WHERE { bgp }: plan the inner query, take the DISTINCT
    // bindings of the described variable, and semi-join the triple store
    // against them in both positions (hash semi-joins — the binding set is
    // usually small and broadcasts; never a collect).
    query.describeWhere.foreach { inner =>
      val v = inner.projection.head
      val bind = plan(inner, store, dict, quads)
        .select(col(v).as("node")).distinct()
      val all = allTriples(store)
      val bySubject = all.join(bind, all(TripleSchema.subject) === bind("node"), "left_semi")
      val byObject = all.join(bind, all(TripleSchema.objekt) === bind("node"), "left_semi")
      return bySubject.unionAll(byObject).select(
        col(TripleSchema.subject), col(TripleSchema.predicate), col(TripleSchema.objekt))
        .distinct()
    }
    // Encode every constant — pattern terms, path predicates, AND filter
    // right-hand sides — in one `encodeTerms` call: a lookup in the
    // dictionary's driver map while the vocabulary fits under
    // `Dictionary.LocalVocabularyMax`, one pushed-down isin scan past it.
    val constants = ((query.patterns ++ query.optionals.flatten ++ query.unionArms.flatten ++
      query.constructTemplate ++ query.minuses.flatten ++ query.existsFilters.flatMap(_._1) ++
      query.graphGroups.flatMap(_._2))
      .flatMap(p => Seq(p.s, p.p, p.o)) ++
      (query.filters ++ query.optionalFilters.flatten).flatMap(_.leaves)
        // regex patterns / string-function args are raw strings, not
        // dictionary terms
        .filterNot(c => FilterOp.isLexical(c.op))
        .flatMap(c => c.value +: c.values) ++
      query.inlineValues.flatMap(_._2) ++
      query.inlineValuesMulti.flatMap(_._2.flatten.flatten) ++
      query.graphGroups.map(_._1) ++
      query.binds.flatMap(_._1 match {
        case BindTerm(t) => Seq(t)
        case BindArith(l, _, r) => Seq(l, r)
        case BindCoalesce(ts) => ts
        case BindIf(c, t, e) => Seq(c.value, t, e)
      })).flatMap {
      case Constant(l) => Seq(l)
      case PathTerm(path) => path.preds
      case _: Variable => Nil
    }.distinct
    val enc: Map[String, Int] = dict.encodeTerms(constants)

    // Variables whose value is a NUMBER (BIND arithmetic results), not a
    // dictionary id: comparisons against numeric literals apply to them
    // directly. Every other variable holds an encoded id, and a numeric
    // literal comparison goes through the dictionary VALUE join below.
    val arithVars: Set[String] =
      query.binds.collect { case (BindArith(_, _, _), alias) => alias }.toSet

    // DECODED-VALUE comparisons: a NUMERIC literal against an id-valued
    // variable compares the variable's decoded lexical form AS A NUMBER
    // (SPARQL operand semantics), not its encoded id. Planned as ONE left
    // join per distinct variable against the dictionary projected to
    // `try_cast(term AS DOUBLE)` (the cast runs once per VOCABULARY entry,
    // never per solution row); the resulting `__val_<var>` column then
    // composes freely inside &&/||/IF Column trees. Semantics per row:
    //   mapped, numeric lexical  -> compare the decoded number
    //   mapped, non-numeric      -> SPARQL type error (null -> excluded,
    //                               under every operator including !=)
    //   UNMAPPED id              -> the id IS the value: in this engine an
    //     id absent from the dictionary denotes the integer literal itself
    //     (the reference's data model — opaque ints ARE the values,
    //     MyOpVisitorBase.java:69-78), so it compares as its own number.
    //   null (OPTIONAL-unbound)  -> expression error (excluded)
    // Double compare: exact for integral terms within 2^53.
    def needsValueCmp(f: FilterCond): Boolean = f.op match {
      case FilterEq | FilterNeq | FilterLt | FilterLe | FilterGt | FilterGe =>
        (f.value match {
          case Constant(l) => l.toLongOption.isDefined
          case _ => false
        }) && !arithVars.contains(f.variable)
      case _ => false
    }
    def valCol(v: String): String = s"__val_$v"
    def lexCol(v: String): String = s"__olex_$v"
    // The one vocabulary join: for each variable of `vars` not yet decoded,
    // `__val_<var>` binds its decoded number as above. With `sortKeys`,
    // `__olex_<var>` also binds the decoded term of a non-numeric value
    // (null for a number, which sorts by value, never lexically: "9" <
    // "10"), the ORDER BY tie key.
    def withDecoded(df: DataFrame, vars: Seq[String], sortKeys: Boolean = false): DataFrame =
      vars.distinct.filterNot(v => df.columns.contains(valCol(v)))
        .foldLeft(df) { (acc, v) =>
          val (idC, numC) = (s"__vid_$v", s"__vnum_$v")
          val vocab = dict.entries.toDF(idC, lexCol(v)).select(col(idC), col(lexCol(v)),
            expr(s"try_cast(${lexCol(v)} AS DOUBLE)").as(numC))
          val joined = acc.join(vocab, acc(v) === col(idC), "left")
            .withColumn(valCol(v),
              when(col(idC).isNull, col(v).cast("double")).otherwise(col(numC)))
          (if (sortKeys) joined.withColumn(lexCol(v),
            when(col(valCol(v)).isNotNull, lit(null).cast("string")).otherwise(col(lexCol(v))))
          else joined.drop(lexCol(v))).drop(idC, numC)
        }

    // One FILTER atom as a Column predicate (everything except the lexical
    // atoms — their dictionary joins cannot compose inside an &&/|| Column
    // tree; numeric VALUE comparisons CAN, via the pre-joined `__val_<var>`
    // column above).
    // Comparison RHS resolution: dictionary term → its encoded id (term
    // ordering = id ordering is the documented layout contract for ordered
    // term comparisons, matching the reference's id domain); bare numeric
    // literal on an id-valued variable → DECODED-VALUE comparison (the
    // caller pre-joins `__val_<var>`); bare numeric literal on a
    // BIND-arithmetic variable → plain numeric comparison; unknown
    // non-numeric term → equal to no value: `!=` keeps the rows whose
    // variable is bound (an unbound one is an expression error, as in
    // FilterNotIn), every other op drops every row.
    def condColumn(df: DataFrame, f: FilterCond): Column = {
      require(df.columns.contains(f.variable),
        s"FILTER variable ?${f.variable} not bound " +
          s"(bound: ${df.columns.mkString(", ")})")
      f.op match {
        case FilterBound => col(f.variable).isNotNull
        case FilterNotBound => col(f.variable).isNull
        case op if FilterOp.isLexical(op) => throw new IllegalArgumentException(
          "regex()/string-function filters cannot appear inside &&/|| in the subset")
        // [NOT] IN over constant terms → a single pushdown-friendly `isin`
        // on the encoded ids. Terms absent from the dictionary (and
        // non-numeric) can never equal a bound value — dropped from the id
        // list, which realizes SPARQL's `=`-per-element semantics. A null
        // (OPTIONAL-unbound) variable is an expression error → the null
        // isin result drops the row under IN and NOT IN alike.
        case FilterIn | FilterNotIn =>
          val ids: Seq[Any] = f.values.collect {
            case Constant(l) => enc.get(l).map(_.asInstanceOf[Any])
              .orElse(l.toLongOption.map(n =>
                (if (n.isValidInt) n.toInt else n): Any))
          }.flatten
          if (f.op == FilterIn) {
            if (ids.isEmpty) lit(false) else col(f.variable).isin(ids: _*)
          } else {
            if (ids.isEmpty) col(f.variable).isNotNull
            else !col(f.variable).isin(ids: _*)
          }
        case cmp =>
          val sides: Option[(Column, Column)] = (f.value: @unchecked) match {
            case Variable(v) =>
              require(df.columns.contains(v), s"FILTER variable ?$v not bound")
              Some((col(f.variable), col(v)))
            case Constant(l) =>
              l.toLongOption match {
                case Some(n) if !arithVars.contains(f.variable) =>
                  // decoded-value comparison over the pre-joined column
                  // (see withDecoded) — a null value (non-numeric term or
                  // unbound variable) is a type error: the comparison
                  // yields null and the row drops under every operator
                  require(df.columns.contains(valCol(f.variable)),
                    s"internal: decoded-value column for ?${f.variable} " +
                      "not pre-joined (withDecoded)")
                  Some((col(valCol(f.variable)), lit(n.toDouble)))
                case Some(n) =>
                  // BIND-arithmetic variable: already a number; int-width
                  // literal stays int (keeps the pushdown literal in the
                  // int store's type), beyond-int promotes to long
                  Some((col(f.variable),
                    if (n.isValidInt) lit(n.toInt) else lit(n)))
                case None =>
                  enc.get(l).map(id => (col(f.variable), lit(id)))
              }
          }
          sides match {
            case None => if (cmp == FilterNeq) col(f.variable).isNotNull else lit(false)
            case Some((x, r)) => compare(cmp, x, r)
          }
      }
    }

    // One FILTER tree over `df`. A lexical leaf ([!]regex, [!]STRSTARTS,
    // [!]STRENDS, [!]CONTAINS, STRLEN-cmp) keeps the rows whose variable's
    // DECODED lexical form satisfies the string predicate — planned as a
    // semi-join (anti for the negated forms) against the predicate-filtered
    // dictionary, so matching stays distributed and the predicate is
    // evaluated once per VOCABULARY entry, not per solution row. No
    // broadcast hint: a broad predicate can match a large id set —
    // Catalyst/AQE picks the join side from size stats. Any other tree
    // pre-joins the decoded-value column of each numeric-literal comparison
    // leaf and filters on one Column tree, the helper columns dropped
    // after. Catalyst pushes an equality on a single pattern's variable
    // down into that pattern's scan (encoded point predicate), so a FILTER
    // costs the same as writing the constant inside the pattern.
    def applyFilter(df: DataFrame, e: FilterExpr): DataFrame = e match {
      case FilterLeaf(f) if FilterOp.isLexical(f.op) =>
        val lex = f.value.asInstanceOf[Constant].lexical
        val term = col("__rx_term")
        // (vocabulary predicate, plan as anti-join?) — STRLEN folds its
        // comparison (including !=) into the predicate itself, so it always
        // semi-joins
        val (pred, negated) = (f.op: @unchecked) match {
          case FilterRegex => (term.rlike(lex), false)
          case FilterNotRegex => (term.rlike(lex), true)
          case FilterStrStarts => (term.startsWith(lex), false)
          case FilterNotStrStarts => (term.startsWith(lex), true)
          case FilterStrEnds => (term.endsWith(lex), false)
          case FilterNotStrEnds => (term.endsWith(lex), true)
          case FilterStrContains => (term.contains(lex), false)
          case FilterNotStrContains => (term.contains(lex), true)
          case FilterStrLen(cmp) => (compare(cmp, length(term), lit(lex.toInt)), false)
        }
        val ids = dict.entries.toDF("__rx_id", "__rx_term")
          .filter(pred).select(col("__rx_id"))
        val joinType = if (negated) "left_anti" else "left_semi"
        // SPARQL error semantics: a null (OPTIONAL-unbound) variable is an
        // expression error — the row drops under the positive AND the
        // negated form (an anti join alone would keep nulls)
        val base = if (negated) df.filter(col(f.variable).isNotNull) else df
        base.join(ids, base(f.variable) === col("__rx_id"), joinType)
      case _ =>
        val valVars = e.leaves.filter(needsValueCmp).map(_.variable).distinct
        val pre = withDecoded(df, valVars)
        def toCol(x: FilterExpr): Column = x match {
          case FilterLeaf(c) => condColumn(pre, c)
          case FilterAnd(l, r) => toCol(l) && toCol(r)
          case FilterOr(l, r) => toCol(l) || toCol(r)
        }
        val out = pre.filter(toCol(e))
        if (valVars.isEmpty) out else out.drop(valVars.map(valCol): _*)
    }

    // Internal column names (`__exists_N` markers of fully bound patterns,
    // `__pathnegN` predicate variables) take their N from one counter per
    // plan call, so no two patterns of any groups share one.
    var internal = 0
    // One pattern, in any group: a property path plans through [[planPath]]
    // over every triple (a path crosses entity classes, so it spans both
    // sign tables); a negated property set plans as an ordinary scan over a
    // hidden predicate variable post-filtered with NOT isin (an unknown
    // negated term excludes nothing — it cannot occur in the data, so the
    // pattern matches every predicate, per SPARQL semantics). With `graph`,
    // a QUAD pattern binding the graph variable.
    def pattern(st: Store, graph: Option[String])(p: TriplePattern): DataFrame = {
      require(graph.isEmpty || !p.p.isInstanceOf[PathTerm],
        s"unsupported property path inside GRAPH ?${graph.get}: $p")
      internal += 1
      p.p match {
        case PathTerm(NegSet(preds)) =>
          // the `__path` prefix keeps the synthetic predicate variable out
          // of star projections; it is dropped before the joins regardless
          val v = s"__pathneg$internal"
          val ids = preds.flatMap(enc.get)
          val base = planPattern(TriplePattern(p.s, Variable(v), p.o), internal, st, enc)
          (if (ids.isEmpty) base else base.filter(!col(v).isin(ids: _*))).drop(v)
        case PathTerm(path) => planPath(p.s, path, p.o, allTriples(st), enc)
        case _ => planPattern(p, internal, st, enc, graph)
      }
    }
    // Patterns join in a fixed order: scans, negated property sets,
    // closures, then sequence paths.
    def joinRank(p: TriplePattern): Int = p.p match {
      case PathTerm(NegSet(_)) => 1
      case PathTerm(PathSeq(_) | Rep(PathSeq(_), _, _)) => 3
      case PathTerm(_) => 2
      case _ => 0
    }
    def shared(l: DataFrame, r: DataFrame): Seq[String] =
      l.columns.toSet.intersect(r.columns.toSet).toSeq.sorted
    // One group, of any kind (required, UNION arm, GRAPH, OPTIONAL, MINUS,
    // EXISTS): its patterns ranked by `joinRank` and planned, then joined
    // left to right on shared variables, `extra` relations last. Disjoint
    // parts cross-join (correct per SPARQL semantics, a scale hazard).
    def group(patterns: Seq[TriplePattern], st: Store = store,
        graph: Option[String] = None, extra: Seq[DataFrame] = Nil): DataFrame =
      (patterns.sortBy(joinRank).map(pattern(st, graph)) ++ extra).reduceLeft { (acc, next) =>
        val on = shared(acc, next)
        if (on.isEmpty) acc.crossJoin(next)
        else acc.join(next, on, "inner")
      }

    // GRAPH groups (named graphs): a bound graph term filters the quad
    // store to that graph (a point predicate Catalyst pushes into the
    // scan — with a graph-partitioned quad layout this is partition
    // pruning) and the patterns plan as ordinary triple patterns over the
    // filtered store; a graph VARIABLE plans each pattern as a QUAD
    // pattern carrying the graph column as a binding — all patterns of
    // one group share the variable, so "same graph" is the ordinary
    // shared-variable equi-join.
    val graphDfs = query.graphGroups.map { case (gTerm, pats) =>
      val q = quads.getOrElse(throw new IllegalArgumentException(
        "GRAPH requires a registered quad store"))
      (gTerm: @unchecked) match {
        case Constant(l) =>
          val sub = enc.get(l) match {
            case Some(id) => q.filter(col(TripleSchema.graph) === lit(id))
            case None => q.limit(0) // unknown graph holds nothing
          }
          group(pats, SingleTable(sub.select(col(TripleSchema.subject),
            col(TripleSchema.predicate), col(TripleSchema.objekt))))
        case Variable(gv) => group(pats, SingleTable(q), Some(gv))
      }
    }
    // Subqueries (SPARQL 1.1 SubSelect): each plans RECURSIVELY as a full
    // query — aggregates, modifiers and all — and its projected columns
    // join the enclosing group like any other pattern relation (shared
    // variables ⇒ equi-join; none ⇒ cross join per SPARQL semantics).
    val subDfs = query.subqueries.map(sq => plan(sq, store, dict, quads))
    // Top-level UNION (SPARQL Union): each arm is its own BGP join plan;
    // arms are combined with bag semantics, and a variable unbound in an
    // arm pads to null — `unionByName(allowMissingColumns)` gives exactly
    // the SPARQL multiset-union-with-null-padding, and each arm stays an
    // independently optimized subtree (filters pushed per arm).
    val required =
      if (query.unionArms.isEmpty) group(query.patterns, extra = graphDfs ++ subDfs)
      else query.unionArms.map(group(_)).reduceLeft(_.unionByName(_, allowMissingColumns = true))

    // OPTIONAL groups: each planned as its own BGP, then LEFT-joined to the
    // accumulated result on the shared variables (SPARQL LeftJoin) — rows
    // without a match keep the optional variables null. Using-column join
    // keeps the left side's binding for shared variables, which is exactly
    // the compatible-mapping semantics. Group-scoped FILTERs restrict the
    // optional side BEFORE the left join (their variables are bound inside
    // the group — subset rule), so Catalyst pushes constant equalities into
    // the group's scans.
    val joined = query.optionals.zipWithIndex.foldLeft(required) {
      case (acc, (optPatterns, g)) =>
        val opt = query.optionalFilters.lift(g).getOrElse(Nil)
          .foldLeft(group(optPatterns))(applyFilter)
        val on = shared(acc, opt)
        if (on.isEmpty) acc.join(opt, lit(true), "left")
        else acc.join(opt, on, "left")
    }

    // MINUS (SPARQL negation): solutions compatible with the minus group on
    // the SHARED variables are removed — a left ANTI join. With no shared
    // variable no solution is minus-compatible (SPARQL spec), so the group
    // is a no-op.
    val afterMinus = query.minuses.foldLeft(joined) { (acc, mPats) =>
      val m = group(mPats)
      val on = shared(acc, m)
      if (on.isEmpty) acc else acc.join(m, on, "left_anti")
    }

    // Variables bound by a REQUIRED pattern (every arm, for a union) are
    // provably non-null; OPTIONAL-only variables are nullable. Needed by
    // EXISTS (below) and the VALUES compatibility rule (further below).
    val nonNullVars: Set[String] =
      if (query.unionArms.nonEmpty)
        query.unionArms.map(_.flatMap(p => Seq(p.s, p.p, p.o)
          .collect { case Variable(v) => v }).toSet).reduce(_ intersect _)
      else (query.patterns.flatMap(p => Seq(p.s, p.p, p.o)) ++
        query.graphGroups.flatMap { case (g, pats) =>
          g +: pats.flatMap(p => Seq(p.s, p.p, p.o)) })
        .collect { case Variable(v) => v }.toSet

    // FILTER [NOT] EXISTS: a correlated semi-join (anti-join when negated)
    // on the SHARED variables. With NO shared variable the test is the
    // group's global non-emptiness — planned as a semi/anti join against
    // LocalLimit(1) of the group (a one-row probe, never a count), which
    // is exactly where EXISTS and MINUS diverge: a disjoint-domain MINUS
    // is a no-op, a disjoint-domain NOT EXISTS can remove everything.
    // SPARQL substitution semantics: an OPTIONAL-bound variable that is
    // null in a solution stays FREE inside EXISTS (the group can still
    // match) — a null-rejecting equi key would wrongly drop (EXISTS) or
    // keep (NOT EXISTS) those rows, so nullable shared variables get the
    // null-tolerant `isNull || =` condition instead. Required variables
    // keep the plain equi key (hash semi/anti join); the group side is
    // deduplicated on the shared variables so the null-tolerant probe
    // stays bounded by the distinct binding count.
    val afterExists = query.existsFilters.foldLeft(afterMinus) {
      case (acc, (ePats, negated)) =>
        val e = group(ePats)
        val on = shared(acc, e)
        val joinType = if (negated) "left_anti" else "left_semi"
        if (on.isEmpty) acc.join(e.limit(1), lit(true), joinType)
        else if (on.forall(nonNullVars.contains)) acc.join(e, on, joinType)
        else {
          val probe = e.select(on.map(col): _*).distinct()
          val renamed = on.foldLeft(probe)(
            (d, v) => d.withColumnRenamed(v, s"__ex_$v"))
          val cond = on.map { v =>
            if (nonNullVars.contains(v)) col(v) === col(s"__ex_$v")
            else col(v).isNull || col(v) === col(s"__ex_$v")
          }.reduce(_ && _)
          acc.join(renamed, cond, joinType)
        }
    }

    // VALUES (single-variable inline bindings): semantically Join(P, data).
    // When the variable is bound by a REQUIRED pattern it can never be
    // null, and the join degenerates to an `isin` predicate that Catalyst
    // pushes into the pattern's scan — the cheapest correct plan. When the
    // variable is only OPTIONAL-bound (nullable), the full SPARQL
    // compatibility rule applies: an unbound solution is compatible with
    // every VALUES row and survives WITH the variable bound to it — a join
    // against the (tiny, broadcast) literal table with null-extension.
    // An unknown term binds nothing (it cannot match any encoded id).
    val withValues = query.inlineValues.foldLeft(afterExists) { case (acc, (v, terms)) =>
      require(acc.columns.contains(v),
        s"VALUES variable ?$v not bound by the BGP (bound: ${acc.columns.mkString(", ")})")
      // keep the MULTISET: a term listed twice doubles its solutions (VALUES
      // is Join(P, data) over a bag) — the isin fast path applies only when
      // the encoded list is duplicate-free
      val rawIds = terms.flatMap(t => enc.get(t.lexical))
      val ids = rawIds.distinct
      if (rawIds.isEmpty) acc.filter(lit(false))
      else if (nonNullVars.contains(v) && rawIds.length == ids.length)
        acc.filter(col(v).isin(ids: _*))
      else {
        val spark = acc.sparkSession
        import spark.implicits._
        val vdf = rawIds.toDF("__graft_val")
        acc.join(vdf, col(v).isNull || col(v) === col("__graft_val"))
          .withColumn(v, coalesce(col(v), col("__graft_val")))
          .drop("__graft_val")
      }
    }

    // Multi-variable VALUES: Join(P, data) against the (tiny, broadcast)
    // literal tuple table under the compatibility rule — a solution matches
    // a tuple when every shared variable is unbound or equal, and unbound
    // variables come out bound to the tuple's value. Tuples containing a
    // term absent from the dictionary are dropped (they cannot match any
    // bound solution — subset deviation for the unbound-var case, as in
    // the single-variable path). For all-required variables Catalyst
    // simplifies the null-tolerant condition to a plain equi-join.
    val withValuesMulti = query.inlineValuesMulti.foldLeft(withValues) {
      case (acc, (vars, rows)) =>
        vars.foreach(v => require(acc.columns.contains(v),
          s"VALUES variable ?$v not bound by the BGP (bound: ${acc.columns.mkString(", ")})"))
        // per-cell: Some(id) = bound term, None = UNDEF (wildcard for that
        // variable in that row). A DEFINED term absent from the dictionary
        // drops its row (it cannot match any bound solution).
        val encRows: Seq[Seq[Option[Int]]] = rows.flatMap { r =>
          val ids = r.map(_.map(c => enc.get(c.lexical)))
          if (ids.exists(o => o.isDefined && o.get.isEmpty)) None
          else Some(ids.map(_.flatten))
        }
        if (encRows.isEmpty) acc.filter(lit(false))
        else {
          val spark = acc.sparkSession
          val tmpCols = vars.map(v => s"__graft_val_$v")
          // a column is nullable only if some row leaves it UNDEF — keeps
          // the no-UNDEF case's tight non-null schema
          val hasUndef = vars.indices.map(i => encRows.exists(r => r(i).isEmpty))
          val schema = org.apache.spark.sql.types.StructType(
            tmpCols.zipWithIndex.map { case (c, i) =>
              org.apache.spark.sql.types.StructField(
                c, org.apache.spark.sql.types.IntegerType, nullable = hasUndef(i)) })
          val vdf = spark.createDataFrame(
            java.util.Arrays.asList(encRows.map(r =>
              org.apache.spark.sql.Row.fromSeq(
                r.map(_.map(x => x: java.lang.Integer).orNull))): _*), schema)
          // required variables are provably non-null: emit the plain
          // equality so Catalyst plans a Broadcast HASH join on the tuple
          // (the null-tolerant OR would force a nested-loop probe — the
          // scan's nullable column type hides the invariant from the
          // optimizer). An UNDEF-bearing column wraps ITS condition in a
          // null-tolerant disjunct (the wildcard), leaving UNDEF-free
          // columns as plain hash-join keys.
          val cond = vars.zip(tmpCols).zipWithIndex.map { case ((v, c), i) =>
            val base =
              if (nonNullVars.contains(v)) col(v) === col(c)
              else col(v).isNull || col(v) === col(c)
            if (hasUndef(i)) col(c).isNull || base else base
          }.reduce(_ && _)
          val joined = acc.join(broadcast(vdf), cond)
          // extension: an unbound solution variable takes the tuple's value
          // (null for UNDEF — no extension)
          vars.zip(tmpCols).foldLeft(joined) { case (df, (v, c)) =>
            df.withColumn(v, coalesce(col(v), col(c)))
          }.drop(tmpCols: _*)
        }
    }

    // BIND: new visible bindings over the joined solutions — a variable
    // alias copies the column; a constant binds its encoded id (an unknown
    // term binds the error value, null — SPARQL expression-error
    // semantics). Evaluated before FILTER so filters can reference them.
    val withBinds = query.binds.foldLeft(withValuesMulti) {
      case (acc, (bexpr, alias)) =>
        require(!acc.columns.contains(alias),
          s"BIND alias ?$alias is already bound")
        // arithmetic operand: variable → column, term → encoded id, bare
        // integer → itself, unknown → null (expression error); widened to
        // long so id-space arithmetic cannot overflow the int domain
        def operand(t: Term): Column = (t: @unchecked) match {
          case Variable(v) =>
            require(acc.columns.contains(v), s"BIND source ?$v not bound")
            col(v).cast("long")
          case Constant(l) =>
            enc.get(l).map(id => lit(id.toLong))
              .orElse(l.toLongOption.map(n => lit(n)))
              .getOrElse(lit(null).cast("long"))
        }
        (bexpr: @unchecked) match {
          case BindTerm(Variable(v)) =>
            require(acc.columns.contains(v), s"BIND source ?$v not bound")
            acc.withColumn(alias, col(v))
          case BindTerm(Constant(l)) =>
            acc.withColumn(alias,
              enc.get(l).map(id => lit(id)).getOrElse(lit(null).cast("int")))
          case BindArith(l, op, r) =>
            val e = op match {
              case '+' => operand(l) + operand(r)
              case '-' => operand(l) - operand(r)
              case '*' => operand(l) * operand(r)
              case other => throw new IllegalArgumentException(
                s"unsupported BIND operator '$other'")
            }
            acc.withColumn(alias, e)
          // COALESCE: first non-error argument — operand() already maps
          // unbound variables and unknown terms to null, so Spark's
          // null-skipping coalesce IS the SPARQL first-non-error fold
          case BindCoalesce(ts) =>
            ts.foreach { case Variable(v) =>
              require(acc.columns.contains(v), s"COALESCE source ?$v not bound")
            case _ => () }
            acc.withColumn(alias, coalesce(ts.map(operand): _*))
          // IF: a null condition (error) nulls the whole expression —
          // when() without otherwise-on-null gives exactly that. A
          // numeric-literal condition on an id variable pre-joins its
          // decoded value (withDecoded) so value semantics hold inside
          // IF exactly as in FILTER.
          case BindIf(c, t, e) =>
            val pre = withDecoded(acc, Seq(c.variable).filter(_ => needsValueCmp(c)))
            pre.withColumn(alias,
                when(condColumn(pre, c), operand(t))
                  .when(!condColumn(pre, c), operand(e)))
              .drop(valCol(c.variable))
        }
    }

    // FILTER trees, in source order, over the merged solution (see
    // applyFilter): BOUND/!BOUND on an OPTIONAL-bound variable are null
    // predicates over the LeftJoin encoding (!BOUND = negation-as-failure,
    // evaluated streaming above the join probe); constant equalities on
    // required variables push into the pattern scans.
    val filtered = query.filters.foldLeft(withBinds)(applyFilter)

    // ASK: boolean existence — LocalLimit(1) stops each partition at the
    // first matching row, the count-over-limit aggregate folds to a single
    // boolean; nothing beyond one solution is ever computed.
    if (query.ask)
      return filtered.limit(1).agg((count(lit(1)) > 0).as("result"))

    // CONSTRUCT: instantiate each template triple per solution, union, and
    // dedup (an RDF graph is a SET of triples). A template constant that is
    // missing from the dictionary can instantiate nothing.
    if (query.constructTemplate.nonEmpty) {
      val built = query.constructTemplate.map { t =>
        def termCol(term: Term) = (term: @unchecked) match {
          case Variable(v) =>
            require(filtered.columns.contains(v),
              s"CONSTRUCT template variable ?$v not bound by the BGP")
            col(v)
          case Constant(l) => enc.get(l) match {
            case Some(id) => lit(id)
            case None => lit(null).cast("int")
          }
        }
        filtered.select(
          termCol(t.s).as(TripleSchema.subject),
          termCol(t.p).as(TripleSchema.predicate),
          termCol(t.o).as(TripleSchema.objekt))
          .filter(col(TripleSchema.subject).isNotNull &&
            col(TripleSchema.predicate).isNotNull &&
            col(TripleSchema.objekt).isNotNull)
      }
      return built.reduceLeft(_.unionAll(_)).distinct()
    }

    // SPARQL 1.1 aggregation: COUNT aggregates in the projection group the
    // solution sequence by the GROUP BY variables (one hash aggregate,
    // map-side combinable — the same plan a SQL GROUP BY produces).
    val aggregated =
      if (query.countAggs.isEmpty && query.havings.isEmpty) filtered
      else {
        val plainVars = query.projection.filterNot(query.countAggs.map(_.alias).contains)
        require(plainVars.forall(query.groupByVars.contains),
          s"projected variables ${plainVars.mkString(",")} must appear in GROUP BY")
        // HAVING aggregates compute as hidden columns in the SAME hash
        // aggregate (no second pass), filter, then drop
        val aggCols = query.countAggs.map(a =>
          aggregate(a.fn, a.variable, a.distinct).as(a.alias)) ++
          query.havings.zipWithIndex.map { case (h, i) =>
            aggregate(h.fn, h.variable, distinct = false).as(s"__having_$i") }
        val grouped =
          if (query.groupByVars.isEmpty) filtered.agg(aggCols.head, aggCols.tail: _*)
          else filtered.groupBy(query.groupByVars.map(col): _*)
            .agg(aggCols.head, aggCols.tail: _*)
        val kept = query.havings.zipWithIndex.foldLeft(grouped) {
          case (df, (h, i)) => df.filter(compare(h.op, col(s"__having_$i"), lit(h.value)))
        }
        kept.drop(query.havings.indices.map(i => s"__having_$i"): _*)
      }

    val projection =
      if (query.projection.nonEmpty) query.projection
      // hide existence markers AND path-internal fresh variables (`__path*`
      // from sequence/inverse rewrites — not visible bindings in SPARQL)
      else aggregated.columns.toSeq
        .filterNot(c => c.startsWith("__exists_") || c.startsWith("__path")).sorted
    val projected =
      if (projection.isEmpty) aggregated // fully-bound BGP: non-empty iff it matches
      else aggregated.select(projection.map(col): _*)
    // DISTINCT over the projected solution sequence (set semantics) — a
    // hash aggregate on the projected columns, before LIMIT per SPARQL
    // solution-modifier order
    val modified = if (query.distinct) projected.distinct() else projected
    // ORDER BY → OFFSET → LIMIT (SPARQL solution-modifier order). With a
    // LIMIT, Catalyst turns the sort into a TakeOrderedAndProject (top-k,
    // no total sort-exchange); OFFSET composes as skip-then-take.
    //
    // DECODED-VALUE ordering (round-7, closing the last id-order leak):
    // `ORDER BY ?x` sorts solutions by the variable's DECODED term, not its
    // encoded id — numeric terms by numeric value, non-numeric terms by
    // lexical form, with the SPARQL total-order classes composed as one
    // rank column: unbound < numeric < other terms (ascending; DESC
    // reverses the whole order, so unbound lands last). An id ABSENT from
    // the dictionary denotes the integer literal itself (the engine's data
    // model, as in FILTER), so it sorts among the numerics by its own
    // value; BIND-arithmetic variables are already plain numbers and sort
    // directly. Each ordering variable costs ONE left join against the
    // vocabulary (broadcast-sized) before the sort — withDecoded, the same
    // join FILTER uses — and the helper columns drop right after, so with a
    // LIMIT the plan is still join → TakeOrderedAndProject.
    // Variables that hold PLAIN NUMBERS, not encoded ids: BIND arithmetic
    // AND aggregate aliases (a COUNT/SUM value must never round-trip the
    // dictionary — a count that numerically collides with a real id would
    // "decode" to that id's term and sort lexically). They sort directly.
    val directSortVars: Set[String] = arithVars ++ query.countAggs.map(_.alias)
    val ordered =
      if (query.orderBy.isEmpty) modified
      else {
        val sortVars = query.orderBy.map(_._1)
        val pre = withDecoded(modified, sortVars.filterNot(directSortVars.contains),
          sortKeys = true)
        val keys = query.orderBy.flatMap { case (v, asc) =>
          val ks: Seq[Column] =
            if (directSortVars.contains(v)) Seq(col(v))
            else Seq(
              when(col(v).isNull, 0)
                .when(col(valCol(v)).isNotNull, 1).otherwise(2),
              col(valCol(v)), col(lexCol(v)))
          ks.map(k => if (asc) k.asc else k.desc)
        }
        val helperCols = sortVars.distinct.filterNot(directSortVars.contains)
          .flatMap(v => Seq(valCol(v), lexCol(v)))
        pre.orderBy(keys: _*).drop(helperCols: _*)
      }
    val offsetted = query.offset.fold(ordered)(ordered.offset)
    query.limit.fold(offsetted)(offsetted.limit)
  }

  /** `l op r` for the six comparison ops (FILTER, STRLEN and HAVING). */
  private def compare(op: FilterOp, l: Column, r: Column): Column = op match {
    case FilterEq => l === r
    case FilterNeq => !(l === r)
    case FilterLt => l < r
    case FilterLe => l <= r
    case FilterGt => l > r
    case FilterGe => l >= r
    case other => throw new IllegalStateException(s"not a comparison: $other")
  }

  /** An aggregate of the projection or of HAVING as its Column. */
  private def aggregate(fn: String, v: Option[String], distinct: Boolean): Column =
    (fn, v, distinct) match {
      case ("COUNT", None, _) => count(lit(1))
      case ("COUNT", Some(v), false) => count(col(v))
      case ("COUNT", Some(v), true) => countDistinct(col(v))
      case ("SUM", Some(v), false) => sum(col(v))
      case ("SUM", Some(v), true) => sum_distinct(col(v))
      case ("MIN", Some(v), _) => min(col(v))
      case ("MAX", Some(v), _) => max(col(v))
      case ("AVG", Some(v), false) => avg(col(v))
      // SPARQL SAMPLE returns an ARBITRARY value per group; picking MIN is
      // a valid refinement that makes the result deterministic across
      // partitionings and engines
      case ("SAMPLE", Some(v), _) => min(col(v))
      // GROUP_CONCAT with the default separator; the SPARQL spec leaves
      // element order undefined — pinned to ascending value order
      // (array_sort before join) for cross-engine determinism
      case ("GROUP_CONCAT", Some(v), false) =>
        array_join(transform(array_sort(collect_list(col(v))),
          x => x.cast("string")), ",")
      case other => throw new IllegalArgumentException(s"unsupported aggregate: $other")
    }

  /** A property-path pattern `s path o` → its solutions, DISTINCT
    * endpoints (SPARQL's path semantics), over `triples` (both sign tables:
    * a path crosses entity classes). With one bound end the path is walked
    * from that end over a frontier of reached nodes — a bound object walks
    * the inverse path ([[Path.inverse]]); with both ends variable, closures
    * and quantifiers build the pair relation. An unbounded `+` / `*` walks
    * from the encoded seed id itself, on the driver frontier of
    * [[graft.operators.Graph.reachableFrom]]: one bucket-pruned
    * `Subject IN (frontier)` scan per BFS round, no DataFrame staged for
    * the direct successors, and an exact-size local relation as the result
    * — until the reached set passes `Graph.LocalFrontierMax` ids, when the
    * walk restarts from the seed on the distributed loop. Three parts:
    *  - `edges` compiles a step (names, `^`, alternation, negated set, or a
    *    sequence composed into one relation by equi-joins — at scale the
    *    per-step predicate filters keep it far below |E|²) to a src→dst
    *    relation;
    *  - `levels` answers a top-level `Rep(e, lo, hi)` as the union of the
    *    exact path-length levels in the window: level 1 is the direct
    *    successors (pairs: the edges), level k one hash equi-join beyond
    *    level k-1 — a plain composition, not a visited-set BFS, which keeps
    *    only the SHORTEST depth per node and would miss a node whose only
    *    in-window path is longer — with lineage truncated every fourth
    *    level. An unbounded window (`{n,}`, n ≥ 2, with a bound end; any
    *    closure with both ends variable) closes over its deepest level with
    *    the semi-naive BFS fixpoint ([[graft.operators.Graph.reachableFrom]]
    *    seeded by that level / [[graft.operators.Graph.reachablePairs]]),
    *    and `lo = 0` adds the zero step (the seed, or every node of the
    *    edge set paired with itself);
    *  - `walk` runs a sequence step by step over the frontier: a plain step
    *    is one frontier⋈edges equi-join, `+` / `*` run the BFS fixpoint
    *    from the frontier without / with the frontier itself (a bound end's
    *    `+` or `*` over one step is this case too), and `?`
    *    is the frontier plus one step, no fixpoint. Intermediate frontier
    *    nodes are existential — they never surface as bindings — which is
    *    what licenses the frontier evaluation.
    * SUBSET DEVIATION: full SPARQL would emit the zero step even for a bound
    * term absent from the dictionary, but the output is encoded ids, so an
    * un-encodable term yields the empty result instead (pinned by
    * SparqlSpec).
    */
  private def planPath(s: Term, path: Path, o: Term, triples: DataFrame,
      enc: Map[String, Int]): DataFrame = {
    import graft.operators.Graph.{DefaultClosureBudget, reachableFrom, reachablePairs}
    val spark = triples.sparkSession
    import spark.implicits._
    val (subj, obj) = (col(TripleSchema.subject), col(TripleSchema.objekt))
    def isin(preds: Seq[String]) = col(TripleSchema.predicate).isin(preds.flatMap(enc.get): _*)
    // (Subject, Object) edges of a step. Left unprojected where possible,
    // so a filter on a bound end or a BFS frontier stays a pruned scan
    def edges(p: Path): DataFrame = p match {
      // an un-encodable negated term excludes nothing: it cannot occur in
      // the data, so every predicate survives the NOT-IN
      case NegSet(preds) =>
        if (preds.forall(enc.get(_).isEmpty)) triples else triples.filter(!isin(preds))
      case Inv(x) => edges(x).select(obj.as(TripleSchema.subject), subj.as(TripleSchema.objekt))
      case Alt(ms) if ms.exists(_.isInstanceOf[Inv]) =>
        val (inv, fwd) = ms.partition(_.isInstanceOf[Inv])
        val back = edges(Inv(Alt(inv.map(_.inverse))))
        if (fwd.isEmpty) back else edges(Alt(fwd)).select(subj, obj).unionAll(back)
      case names => triples.filter(isin(names.preds))
    }
    // (src, dst) edges of a sequence step; a sequence composes its steps
    def steps(p: Path): DataFrame = p match {
      case PathSeq(ps) => ps.map(steps).reduceLeft { (a, b) =>
        a.join(b, a("dst") === b("src")).select(a("src"), b("dst"))
      }
      case x => edges(x).select(subj.as("src"), obj.as("dst"))
    }
    def asTriples(e: DataFrame) =
      e.select(col("src").as(TripleSchema.subject), col("dst").as(TripleSchema.objekt))
    def oneStep(frontier: DataFrame, e: DataFrame): DataFrame =
      frontier.join(e, frontier("node") === e("src")).select(col("dst").as("node")).distinct()
    def levels(first: DataFrame, e: DataFrame, zero: DataFrame, lo: Int,
        hi: Option[Int], close: DataFrame => Seq[DataFrame]): DataFrame = {
      val step = e.select(subj.as("node"), obj.as("__next"))
      val deepest = hi.getOrElse(lo)
      var level = if (deepest >= 2) first.localCheckpoint() else first
      var parts = if (lo <= 1 && hi.forall(_ >= 1)) Seq(level) else Nil
      for (k <- 2 to deepest) {
        level = level.join(step, "node")
          .select(level.columns.filter(_ != "node").map(col) :+ col("__next").as("node"): _*)
          .distinct()
        if (k % 4 == 0) level = level.localCheckpoint()
        if (k >= lo) parts :+= level
      }
      if (hi.isEmpty) parts = close(level)
      if (lo == 0) parts :+= zero
      if (parts.length == 1) parts.head else parts.reduce(_.unionAll(_)).distinct()
    }
    def walk(frontier: DataFrame, p: Path): DataFrame = p match {
      case PathSeq(ps) => ps.foldLeft(frontier)(walk)
      case Rep(x, lo, None) => reachableFrom(asTriples(steps(x)), frontier, includeSeeds = lo == 0)
      case Rep(x, _, _) => frontier.unionAll(oneStep(frontier, steps(x))).distinct()
      case x => oneStep(frontier, steps(x))
    }
    def fromSeed(seed: Option[Int], p: Path): DataFrame = {
      val seedDf = seed.toSeq.toDF("node")
      p match {
        case Rep(x, lo, hi) if !x.isInstanceOf[PathSeq] && (lo >= 2 || hi.nonEmpty) =>
          val e = edges(x)
          val direct = e.filter(subj === lit(seed.getOrElse(Int.MinValue)))
            .select(obj.as("node")).distinct()
          levels(direct, e, seedDf, lo, hi, l => Seq(reachableFrom(e, l)))
        case _ => walk(seedDf, p)
      }
    }
    (s, path, o) match {
      case (Constant(l), _, Variable(v)) => fromSeed(enc.get(l), path).select(col("node").as(v))
      case (Variable(v), _, Constant(l)) =>
        fromSeed(enc.get(l), path.inverse).select(col("node").as(v))
      case (Variable(sv), Rep(x, lo, hi), Variable(ov)) if !x.isInstanceOf[PathSeq] =>
        val e = edges(x)
        def closure(level: DataFrame): Seq[DataFrame] = {
          val pairs = reachablePairs(e, budgetRows = DefaultClosureBudget)
          if (lo <= 1) Seq(pairs)
          else {
            // {n,}: exact-n pairs composed with the closure beyond them
            val pn = level.localCheckpoint()
            Seq(pn, pn.join(pairs.select(col("root").as("node"), col("node").as("__far")), "node")
              .select(col("root"), col("__far").as("node")))
          }
        }
        val nodes = e.select(subj.as("n")).unionAll(e.select(obj)).distinct()
        val out = levels(e.select(subj.as("root"), obj.as("node")).distinct(), e,
          nodes.select(col("n").as("root"), col("n").as("node")), lo, hi, closure)
        if (sv == ov) out.filter(col("root") === col("node")).select(col("root").as(sv))
        else out.select(col("root").as(sv), col("node").as(ov))
      case _ => throw new IllegalArgumentException(
        s"property path needs one bound end in the subset (two only for a closure or " +
          s"quantifier over one step): $s $path $o")
    }
  }

  /** One pattern → filtered scan projected to its variable columns; with
    * `graph`, a QUAD pattern (a GRAPH-variable group member) over a quad
    * store whose graph column binds that variable.
    */
  private def planPattern(pat: TriplePattern, idx: Int, store: Store,
      enc: Map[String, Int], graph: Option[String] = None): DataFrame = {

    val base: DataFrame = (store, pat.s) match {
      case (SingleTable(df), _) => df
      case (SplitTables(pos, neg), Constant(l)) =>
        // sign routing on the bound subject (MyOpVisitorBase.java:81-86)
        enc.get(l) match {
          case Some(id) if id >= 0 => pos
          case Some(_) => neg
          case None => pos.limit(0) // unknown term: empty
        }
      case (SplitTables(_, _), _) => allTriples(store)
    }

    val positions = Seq(
      (pat.s, TripleSchema.subject),
      (pat.p, TripleSchema.predicate),
      (pat.o, TripleSchema.objekt)) ++
      graph.map(g => (Variable(g): Term, TripleSchema.graph))

    val filters: Seq[Column] = positions.collect {
      case (Constant(l), c) =>
        enc.get(l) match {
          case Some(id) => col(c) === lit(id)
          case None => lit(false)
        }
    }
    // Same variable twice in one pattern (e.g. ?x p ?x) ⇒ intra-pattern equality.
    val varCols = positions.collect { case (Variable(v), c) => (v, c) }
    val selfEq: Seq[Column] = varCols.groupBy(_._1).values.collect {
      case vs if vs.size > 1 => vs.map(_._2).sliding(2).map {
        case Seq(a, b) => col(a) === col(b)
      }.reduce(_ && _)
    }.toSeq

    val filtered = (filters ++ selfEq).foldLeft(base)(_.filter(_))
    // project to variable columns named after the variables (dedup repeats)
    val distinctVars = varCols.distinctBy(_._1)
    if (distinctVars.isEmpty)
      // fully-bound pattern: existence check; keep a marker column set
      filtered.select(lit(1).as(s"__exists_$idx")).limit(1)
    else
      filtered.select(distinctVars.map { case (v, c) => col(c).as(v) }: _*)
  }
}
