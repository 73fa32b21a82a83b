package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** One dictionary row: integer id <-> lexical form. */
final case class DictEntry(id: Int, term: String)

/** Dictionary-encoded vocabulary with both encode and decode directions.
  *
  * Decode of result sets is a broadcast (or shuffle) JOIN against
  * `entries`, never a driver map, so it scales with the vocabulary. Encode
  * of a query's constants is a driver map lookup, as in the reference's
  * translator (its lazily inverted encode map, `MyOpVisitorBase.java:56-66`,
  * built from the driver `HashMap` of `PartitionQueryingSubject.java:62-70`):
  * on first use the dictionary collects at most
  * [[Dictionary.LocalVocabularyMax]] + 1 entries once, and every later
  * encode is a lookup with no Spark job. A vocabulary past that gate stays
  * distributed: each encode is a pushed-down `isin` scan that brings only
  * the matching rows to the driver. Both paths give the same answers, and
  * both reject a term listed under two ids.
  */
final class Dictionary private (val entries: Dataset[DictEntry],
    @transient loaded: () => Option[Dictionary.Local]) extends Serializable {

  def this(entries: Dataset[DictEntry]) = this(entries, null)

  /** The vocabulary on the driver, loaded once per instance (or taken from
    * `loaded`), or None when it is past the gate. Thread-safe: concurrent
    * first callers wait for the one load. Transient, so closures never
    * ship it. */
  @transient private lazy val local: Option[Dictionary.Local] =
    if (loaded == null) Dictionary.loadLocal(entries) else loaded()

  /** Decode the given integer columns of `df` to lexical forms via joins —
    * one join per column (parity with the reference's
    * `mapPartitions`+broadcast decode, `PartitionQueryingSubject.java:136-151`).
    *
    * `broadcastDict = true` (default) hints the dictionary side for a
    * BroadcastHashJoin — right for vocabularies that fit an executor. Pass
    * `false` for a vocabulary too large to broadcast: the hint is OMITTED
    * and Catalyst plans a shuffle join instead of OOMing on the broadcast.
    *
    * Contract: dictionary ids must be unique — a duplicated id would fan
    * out result rows once per duplicate (joins are not lookups). Ids from
    * [[Dictionary.load]]/[[RdfBridge.dictionary]] are unique by
    * construction; assert with [[requireUniqueIds]] for untrusted inputs.
    */
  def decode(df: DataFrame, cols: Seq[String], broadcastDict: Boolean = true): DataFrame = {
    val dict0 = entries.toDF("__dict_id", "__dict_term")
    val dict = if (broadcastDict) broadcast(dict0) else dict0
    cols.foldLeft(df) { (acc, c) =>
      acc
        .join(dict, acc(c) === col("__dict_id"), "left")
        .withColumn(c, col("__dict_term"))
        .drop("__dict_id", "__dict_term")
    }
  }

  /** One distributed pass asserting id uniqueness (decode's fan-out
    * contract); throws with the first few offending ids.
    */
  def requireUniqueIds(): Unit = {
    val dups = entries.groupBy(col("id")).count()
      .filter(col("count") > 1).limit(5).collect()
    require(dups.isEmpty,
      s"duplicate dictionary ids: ${dups.map(_.get(0)).mkString(", ")}")
  }

  /** Driver-side encode of a query's constants: term -> id for every
    * term the dictionary lists. Absent and null terms are left out. While
    * the vocabulary fits under [[Dictionary.LocalVocabularyMax]] this is a
    * lookup in the once-loaded local map; past it, one `isin` scan pushed
    * into the dictionary's source. Throws when a requested term is listed
    * under two ids, since either answer would be arbitrary.
    */
  def encodeTerms(terms: Seq[String]): Map[String, Int] =
    if (terms.isEmpty) Map.empty
    else local match {
      case Some(l) => terms.iterator.filter(_ != null)
        .flatMap(t => l.ids.get(t).map(t -> _)).toMap
      case None => Dictionary.termIds(entries
        .filter(col("term").isin(terms: _*))
        .collect().iterator.map(e => (e.id, e.term)))
    }

  /** The largest id, None for an empty dictionary: read from the local map
    * when it is loaded, else one aggregate job. */
  def maxId: Option[Int] = local match {
    case Some(l) => l.maxId
    case None => Option(entries.agg(max(col("id"))).head().get(0)).map(_.asInstanceOf[Int])
  }

  /** This dictionary plus the `fresh` (term, id) rows, whose terms it
    * must not list yet. A loaded local map carries over as `map ++ fresh`,
    * so the extended dictionary needs no load of its own. */
  def extendedWith(fresh: Seq[(String, Int)]): Dictionary = {
    val spark = entries.sparkSession
    import spark.implicits._
    val added = fresh.map { case (t, id) => DictEntry(id, t) }.toDS()
    val extended = local.map(l => Dictionary.Local(
      l.ids ++ fresh, (l.maxId ++ fresh.map(_._2)).maxOption))
    new Dictionary(entries.unionByName(added), if (extended.isEmpty) null else () => extended)
  }

  /** This vocabulary over `rows`, the same rows read in another session:
    * the result's `entries` belong to that session, and the two share one
    * driver map, loaded by whichever of them needs it first. */
  def over(rows: DataFrame): Dictionary = new Dictionary(Dictionary.entriesOf(rows), () => local)

  /** Encode one SPARQL term to its dictionary id, applying the reference's
    * normalization rules (`MyOpVisitorBase.java:69-78`): unbound variables
    * (`?x`) encode as the sentinel 0; quoted literals are stripped of quotes;
    * angle-bracketed URIs are stripped of `<`/`>` and reduced to the segment
    * after the last `/` (prefixed names like `:node_...` pass through).
    */
  def encodeTerm(raw: String): Option[Int] = {
    val t = Dictionary.normalizeTerm(raw)
    if (t == null) Some(TripleSchema.VariableSentinel)
    else encodeTerms(Seq(t)).get(t)
  }
}

object Dictionary {

  /** Size gate of the driver-side vocabulary: a dictionary of at most
    * 2^18 (262,144) entries is encoded from a local map. That covers the
    * bridge vocabulary to sf0.1 (18,629 terms at sf0.01, 186,029 at sf0.1).
    * Driver memory, measured on JDK 17 with 2^18 terms like
    * `order_123456`: the map's nodes take about 24 MB and the terms and
    * boxed ids about 20 MB more, so a full map holds about 45 MB, and the
    * collected rows add about 10 MB while it loads. That is about 2% of
    * the smallest driver heap this engine runs with (2 GB). A larger
    * vocabulary stays distributed and pays one scan per encode.
    */
  val LocalVocabularyMax: Int = 1 << 18

  /** A loaded vocabulary: term -> id, and the largest id of any row. */
  private[core] final case class Local(ids: Map[String, Int], maxId: Option[Int])

  /** Gathers at most `LocalVocabularyMax + 1` entries; None when there are
    * more. A plan that folds to a local relation (`fromPairs`, a literal
    * DataFrame) collects with no job. Any other plan is read through
    * `toRdd` in one job (per-partition limits, one shuffle to one task),
    * where `Dataset.collect`'s incremental take would start one job for
    * the first partition, one for the next four, and one for the rest.
    */
  private def loadLocal(entries: Dataset[DictEntry]): Option[Local] = {
    val capped = entries.select(col("id"), col("term")).limit(LocalVocabularyMax + 1)
    val qe = capped.queryExecution
    val rows: Array[(Int, String)] =
      if (qe.optimizedPlan.isInstanceOf[LocalRelation])
        capped.collect().map(r => (requireId(r.get(0), r.getString(1)), r.getString(1)))
      else qe.toRdd.map { r =>
        val term = if (r.isNullAt(1)) null else r.getString(1)
        (requireId(if (r.isNullAt(0)) null else r.getInt(0), term), term)
      }.collect()
    if (rows.length > LocalVocabularyMax) None
    else Some(Local(termIds(rows.iterator), rows.iterator.map(_._1).maxOption))
  }

  private def requireId(id: Any, term: String): Int = {
    require(id != null, s"dictionary row with a null id, term: $term")
    id.asInstanceOf[Int]
  }

  /** term -> id over (id, term) rows; rows with a null term are skipped,
    * since no query term can match them. A term under two ids throws. */
  private def termIds(rows: Iterator[(Int, String)]): Map[String, Int] = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    rows.foreach { case (id, term) =>
      if (term != null) ids.put(term, id).foreach { other =>
        require(other == id, s"dictionary term listed under two ids ($other, $id): $term")
      }
    }
    ids.toMap
  }

  /** Load a reference-format dictionary: TSV `id<TAB>lexical-form`, one term
    * per line, split on the first tab only (the lexical form may itself
    * contain tabs/spaces — parity with `split("\t", 2)` at
    * `PartitionQueryingSubject.java:66`).
    */
  def load(spark: SparkSession, path: String): Dictionary = {
    import spark.implicits._
    val df = spark.read.text(path)
      .select(
        substring_index(col("value"), "\t", 1).cast("int").as("id"),
        expr("substring(value, instr(value, '\t') + 1)").as("term"),
      )
      .as[DictEntry]
    new Dictionary(df)
  }

  def fromPairs(spark: SparkSession, pairs: Seq[(Int, String)]): Dictionary = {
    import spark.implicits._
    new Dictionary(pairs.map { case (i, t) => DictEntry(i, t) }.toDS())
  }

  /** From an existing two-column DataFrame (id: int, term: string). */
  def fromDF(df: DataFrame): Dictionary = new Dictionary(entriesOf(df))

  private def entriesOf(df: DataFrame): Dataset[DictEntry] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      col(df.columns(0)).cast("int").as("id"),
      col(df.columns(1)).cast("string").as("term")).as[DictEntry]
  }

  /** Normalization rules of the reference translator
    * (`MyOpVisitorBase.java:69-78`). Returns null for a variable.
    */
  def normalizeTerm(raw: String): String = raw match {
    case v if v.startsWith("?") => null // unbound variable
    case q if q.startsWith("'") && q.endsWith("'") && q.length >= 2 =>
      q.substring(1, q.length - 1)
    case u if u.startsWith("<") && u.endsWith(">") =>
      val inner = u.substring(1, u.length - 1)
      val slash = inner.lastIndexOf('/')
      if (slash >= 0) inner.substring(slash + 1) else inner
    case other => other
  }
}
