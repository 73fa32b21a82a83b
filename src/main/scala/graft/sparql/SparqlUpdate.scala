package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Dictionary, TripleSchema}
import graft.operators.QueryEngine
import graft.sparql.Scan.{Atom, Braces, Item, Word, render}

/** SPARQL 1.1 Update over an immutable triple snapshot — Spark-first
  * semantics: every update form is a declarative transformation of the
  * store DataFrame (union / filter / construct-union), producing a NEW
  * snapshot plus a possibly-extended dictionary. Nothing mutates in place;
  * at 100 TB the result is written as the next table version (the same
  * copy-on-write arrangement every lakehouse update uses), and each form
  * stays embarrassingly parallel:
  *
  *  - `INSERT DATA { ground triples }` — literal triples union'd in; terms
  *    absent from the dictionary get FRESH ids past the current max (read
  *    from the driver vocabulary map, or one scalar aggregate past its
  *    size gate — dictionary growth is model-state-scale, like the IVF
  *    centroids).
  *  - `DELETE DATA { ground triples }` — every copy of each listed triple
  *    is removed via a pushdown-friendly NOT-filter (no shuffle at all).
  *  - `DELETE WHERE { one pattern }` — the pattern's matches are removed by
  *    the complementary filter; repeated variables become column-equality
  *    constraints. The subset keeps ONE pattern (multi-pattern DELETE WHERE
  *    instantiates templates over join solutions — rejected loudly rather
  *    than approximated).
  *  - `INSERT { template } WHERE { bgp }` — planned as the equivalent
  *    CONSTRUCT (encoded output) and union'd in; template constants absent
  *    from the dictionary are pre-assigned fresh ids so derivation can mint
  *    new vocabulary.
  *
  * An update text reads through the query parser's scanner ([[Scan]]), so
  * IRIs and quoted literals stay whole, and each DATA block or template
  * through its group function, which admits triples only there.
  *
  * The store is a BAG like the reference's (duplicate triples permitted);
  * INSERT does not dedup against existing rows — CONSTRUCT's internal
  * distinct only dedups the derived set itself.
  */
object SparqlUpdate {

  final case class UpdatedStore(triples: DataFrame, dict: Dictionary)

  def apply(spark: SparkSession, triples: DataFrame, dict: Dictionary,
      update: String): UpdatedStore = Scan(update) match {
    case Word("INSERT") :: Word("DATA") :: Braces(b) :: Nil =>
      insertData(spark, triples, dict, ground(b, "INSERT DATA"))
    case Word("DELETE") :: Word("DATA") :: Braces(b) :: Nil =>
      deleteGround(triples, dict, ground(b, "DELETE DATA"))
    case Word("DELETE") :: Word("WHERE") :: Braces(b) :: Nil =>
      deleteWhere(triples, dict, SparqlParser.triples(b, "DELETE WHERE"))
    // INSERT-only plans as a CONSTRUCT, ahead of the Modify forms' shared
    // binding pass (which WITH uses for it)
    case Word("INSERT") :: Braces(tpl) :: Word("WHERE") :: Braces(body) :: Nil =>
      insertWhere(spark, triples, dict, tpl, body)
    case Modify(dtpl, itpl, body) => deleteInsertWhere(spark, triples, dict, dtpl, itpl, body)
    case _ => throw new IllegalArgumentException(
      "unsupported update (subset is INSERT DATA, DELETE DATA, " +
        s"DELETE WHERE, INSERT {tpl} WHERE {bgp}, DELETE {tpl} WHERE {bgp}, " +
        s"DELETE {tpl} INSERT {tpl} WHERE {bgp}, WITH <g> + modify via " +
        s"applyQuads): $update")
  }

  /** The modify forms as (DELETE template, INSERT template, WHERE group),
    * an omitted template empty: `DELETE {d} INSERT {i} WHERE {w}`, the 1.1
    * `DELETE {d} WHERE {w}` (distinct from `DELETE WHERE`, which has no
    * template and removes the pattern's own matches), and
    * `INSERT {i} WHERE {w}`.
    */
  private object Modify {
    def unapply(items: List[Item]): Option[(List[Item], List[Item], List[Item])] = items match {
      case Word("DELETE") :: Braces(d) :: Word("INSERT") :: Braces(i) :: Word("WHERE") :: Braces(w) :: Nil =>
        Some((d, i, w))
      case Word("DELETE") :: Braces(d) :: Word("WHERE") :: Braces(w) :: Nil => Some((d, Nil, w))
      case Word("INSERT") :: Braces(i) :: Word("WHERE") :: Braces(w) :: Nil => Some((Nil, i, w))
      case _ => None
    }
  }

  final case class UpdatedQuadStore(quads: DataFrame, dict: Dictionary)

  /** SPARQL 1.1 `WITH <g>` graph-scoped modify over a QUAD store
    * (Subject, Predicate, Object, Graph): the WITH graph is the active
    * graph for BOTH the WHERE matching and the template instantiation
    * (spec §3.1.3 — our subset has no USING/GRAPH override inside the
    * update). Planned as: bind over the named graph's triple slice (a
    * point filter — partition-prunable under a Graph-partitioned layout),
    * apply the modify to that slice only, union the untouched graphs
    * back. Copy-on-write like every other form; the untouched graphs'
    * rows are never rewritten, only re-unioned.
    */
  def applyQuads(spark: SparkSession, quads: DataFrame, dict: Dictionary,
      update: String): UpdatedQuadStore = {
    val (gLex, dtpl, itpl, body) = Scan(update) match {
      case Word("WITH") :: (g: Atom) :: Modify(d, i, w) => (g.text, d, i, w)
      case Word("WITH") :: _ => throw new IllegalArgumentException(
        s"WITH scopes a modify form (DELETE/INSERT/WHERE): $update")
      case _ => throw new IllegalArgumentException(
        s"applyQuads takes a WITH <graph>-scoped modify: $update")
    }
    // the graph term itself may be new vocabulary
    val gTerm = SparqlParser.toTerm(gLex)
    require(gTerm.isInstanceOf[Constant], s"WITH takes a constant graph: $gLex")
    val (gEnc, gDict) = encodeMinting(dict, Seq(lex(gTerm)))
    val gId = gEnc(lex(gTerm))
    val g = TripleSchema.graph
    val active = quads.filter(col(g) === gId)
      .select(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
    val (dels, ins, newDict) = modifyParts(spark, active, gDict, dtpl, itpl, body)
    val key = Seq(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
    val kept = dels.map(d => active.join(d, key, "left_anti")).getOrElse(active)
    val updated = ins.map(kept.unionAll).getOrElse(kept).withColumn(g, lit(gId))
      .select(quads.columns.map(col).toSeq: _*)
    UpdatedQuadStore(quads.filter(col(g) =!= gId).unionAll(updated), newDict)
  }

  /** Ground triples of a DATA block — every term must be a constant. */
  private def ground(block: List[Item], context: String): Seq[TriplePattern] = {
    val pats = SparqlParser.triples(block, context)
    pats.foreach { p =>
      require(Seq(p.s, p.p, p.o).forall(_.isInstanceOf[Constant]),
        s"DATA blocks take ground triples only: $p")
    }
    pats
  }

  private def lex(t: Term): String = t.asInstanceOf[Constant].lexical

  /** Encode the given lexicals, minting fresh ids for terms the dictionary
    * does not know: max(current max id, 0) + 1, + 2, …, so a mint never
    * reuses the variable sentinel 0, an empty dictionary mints from 1, and
    * a mint past `Int.MaxValue` throws instead of wrapping. Returns the
    * complete mapping and the possibly-extended dictionary.
    */
  private def encodeMinting(dict: Dictionary,
      lexicals: Seq[String]): (Map[String, Int], Dictionary) = {
    val known = dict.encodeTerms(lexicals)
    val unknown = lexicals.distinct.filterNot(known.contains)
    if (unknown.isEmpty) (known, dict)
    else {
      val base = math.max(dict.maxId.getOrElse(0), TripleSchema.VariableSentinel)
      val fresh = unknown.zipWithIndex.map { case (t, i) => t -> Math.addExact(base, i + 1) }
      (known ++ fresh, dict.extendedWith(fresh))
    }
  }

  private def insertData(spark: SparkSession, triples: DataFrame,
      dict: Dictionary, pats: Seq[TriplePattern]): UpdatedStore = {
    val (enc, newDict) = encodeMinting(dict,
      pats.flatMap(p => Seq(p.s, p.p, p.o)).map(lex))
    import spark.implicits._
    val rows = pats.map(p => (enc(lex(p.s)), enc(lex(p.p)), enc(lex(p.o))))
      .toDF(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
    UpdatedStore(triples.unionAll(rows), newDict)
  }

  private def deleteGround(triples: DataFrame, dict: Dictionary,
      pats: Seq[TriplePattern]): UpdatedStore = {
    val enc = dict.encodeTerms(pats.flatMap(p => Seq(p.s, p.p, p.o)).map(lex))
    // a triple with an unknown term cannot exist in the store — no-op
    val conds = pats.flatMap { p =>
      for {
        s <- enc.get(lex(p.s)); pr <- enc.get(lex(p.p)); o <- enc.get(lex(p.o))
      } yield col(TripleSchema.subject) === s &&
        col(TripleSchema.predicate) === pr && col(TripleSchema.objekt) === o
    }
    val removed = conds.reduceOption(_ || _).getOrElse(lit(false))
    UpdatedStore(triples.filter(!removed), dict)
  }

  private def deleteWhere(triples: DataFrame, dict: Dictionary,
      pats: Seq[TriplePattern]): UpdatedStore = {
    require(pats.length == 1,
      "DELETE WHERE subset takes exactly one triple pattern " +
        "(multi-pattern deletion instantiates over join solutions)")
    val p = pats.head
    val terms = Seq(TripleSchema.subject -> p.s,
      TripleSchema.predicate -> p.p, TripleSchema.objekt -> p.o)
    val enc = dict.encodeTerms(terms.collect { case (_, Constant(l)) => l })
    val constConds: Seq[Column] = terms.collect {
      case (c, Constant(l)) => enc.get(l) match {
        case Some(id) => col(c) === id
        case None => lit(false) // unknown term matches nothing
      }
    }
    // a repeated variable constrains its positions to be equal
    val varConds: Seq[Column] = terms.collect { case (c, Variable(v)) => (v, c) }
      .groupBy(_._1).values.filter(_.length > 1)
      .map(g => g.map(x => col(x._2)).sliding(2)
        .map { case Seq(a, b) => a === b }.reduce(_ && _)).toSeq
    val matchCond = (constConds ++ varConds).reduceOption(_ && _).getOrElse(lit(true))
    UpdatedStore(triples.filter(!matchCond), dict)
  }

  /** `DELETE { tplD } INSERT { tplI } WHERE { bgp }` — SPARQL 1.1's
    * combined modify (spec §3.1.3): ONE binding pass over the PRE-UPDATE
    * snapshot feeds both templates atomically. The WHERE solutions are
    * planned once (`SELECT *`) and checkpointed; each template
    * instantiates over that shared relation, then the store transforms as
    * `(triples ANTI-JOIN deletions) UNION insertions`. Atomicity falls
    * out of immutability: a sequential delete-then-re-match would find
    * ZERO bindings whenever the DELETE template removes the very triples
    * the WHERE matched (the canonical predicate-rename), while the spec —
    * and this plan — inserts from the pre-delete bindings. Deletion
    * removes every copy of each instantiated triple (the bag-store
    * discipline of DELETE DATA); insertion appends the distinct
    * instantiations (CONSTRUCT semantics). Scale shape: one BGP join
    * pass, one hash anti-join on (s,p,o), one union — no per-solution
    * driver work.
    */
  private def deleteInsertWhere(spark: SparkSession, triples: DataFrame,
      dict: Dictionary, dtpl: List[Item], itpl: List[Item], body: List[Item]): UpdatedStore = {
    val (dels, ins, newDict) = modifyParts(spark, triples, dict, dtpl, itpl, body)
    val key = Seq(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
    val kept = dels.map(d => triples.join(d, key, "left_anti")).getOrElse(triples)
    UpdatedStore(ins.map(kept.unionAll).getOrElse(kept), newDict)
  }

  /** The modify core shared by the triple-store and WITH-scoped quad
    * forms: one binding pass over the PRE-UPDATE snapshot, instantiated
    * through both templates. Either template may be EMPTY (the 1.1
    * grammar's `DELETE {tpl} WHERE` / `DELETE {} INSERT {tpl} WHERE`
    * forms) — an empty template contributes no deletions/insertions. */
  private def modifyParts(spark: SparkSession, triples: DataFrame,
      dict: Dictionary, dtpl: List[Item], itpl: List[Item], body: List[Item])
      : (Option[DataFrame], Option[DataFrame], Dictionary) = {
    val dPats = SparqlParser.triples(dtpl, "DELETE template")
    val iPats = SparqlParser.triples(itpl, "INSERT template")
    require(dPats.nonEmpty || iPats.nonEmpty,
      "modify takes at least one non-empty template")
    // mint ids for BOTH templates' constants before planning (a fresh
    // term in the DELETE template matches nothing — the anti-join no-ops)
    val consts = (dPats ++ iPats).flatMap(p => Seq(p.s, p.p, p.o))
      .collect { case Constant(l) => l }
    val (enc, newDict) = encodeMinting(dict, consts)
    val bindings = new QueryEngine(spark, newDict)
      .registerSplitTables(triples)
      .sparql(s"SELECT * WHERE { ${render(body)} }")
      .localCheckpoint()
    val vars = (dPats ++ iPats).flatMap(p => Seq(p.s, p.p, p.o))
      .collect { case Variable(v) => v }.distinct
    vars.foreach(v => require(bindings.columns.contains(v),
      s"modify template variable ?$v is not bound by the WHERE group"))
    def instantiate(pats: Seq[TriplePattern]): Option[DataFrame] =
      if (pats.isEmpty) None
      else Some(pats.map { t =>
        def termCol(term: Term): Column = term match {
          case Variable(v) => col(v)
          case Constant(l) => lit(enc(l))
        }
        bindings.select(
          termCol(t.s).cast("int").as(TripleSchema.subject),
          termCol(t.p).cast("int").as(TripleSchema.predicate),
          termCol(t.o).cast("int").as(TripleSchema.objekt))
      }.reduceLeft(_.unionAll(_)).distinct())
    (instantiate(dPats), instantiate(iPats), newDict)
  }

  private def insertWhere(spark: SparkSession, triples: DataFrame,
      dict: Dictionary, tpl: List[Item], body: List[Item]): UpdatedStore = {
    // template constants may be new vocabulary — mint ids BEFORE planning
    val tplConsts = SparqlParser.triples(tpl, "INSERT template")
      .flatMap(p => Seq(p.s, p.p, p.o)).collect { case Constant(l) => l }
    val (_, newDict) = encodeMinting(dict, tplConsts)
    val constructed = new QueryEngine(spark, newDict)
      .registerSplitTables(triples)
      .sparql(s"CONSTRUCT { ${render(tpl)} } WHERE { ${render(body)} }")
    UpdatedStore(triples.unionAll(constructed), newDict)
  }
}
