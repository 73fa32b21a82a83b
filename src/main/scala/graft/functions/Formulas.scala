package graft.functions

/** Cross-dialect SQL formula builder for the training-data pipeline operators
  * (dedup, similarity, text analysis).
  *
  * Every operator's Spark implementation and its DuckDB oracle are generated
  * from ONE template parameterized by [[Dialect]], so the two sides compute
  * the identical arithmetic — the driver's hash-compare then passes by
  * construction, not by coincidence. All hashes are pure-SQL polynomial
  * arithmetic over md5 hex digits (md5 is bit-identical everywhere), kept
  * below 2^62 so BIGINT never overflows.
  *
  * Scale note: everything here is a deterministic scalar expression over one
  * row's columns — codegen-friendly, no UDFs, no driver state — so the same
  * SQL runs unchanged on a 1000-executor cluster.
  */
sealed trait Dialect {
  def transform(l: String, x: String, body: String): String
  /** Left fold with explicit init — defined evaluation order in both engines. */
  def reduce(l: String, init: String, acc: String, x: String, body: String): String
  def filter(l: String, x: String, body: String): String
  /** Inclusive int range [a, b] as a literal-bounded sequence. */
  def seq(a: String, b: String): String
  def elem(l: String, i: String): String
  def arrayMin(l: String): String
  def len(l: String): String
  def contains(l: String, e: String): String
  def distinct(l: String): String
  def slice(l: String, from: String, n: String): String
  def prepend(l: String, e: String): String
  def joinWs(l: String): String
  def splitWs(e: String): String
  def regexpCount(e: String, pat: String): String
  /** Replace ALL matches (Spark's default; DuckDB needs the 'g' flag). */
  def regexpReplaceAll(e: String, pat: String, rep: String): String
  def shiftRight(e: String, i: String): String
  def shiftLeft1(i: String): String
  /** General left shift by an expression amount. */
  def shiftLeft(e: String, i: String): String
  def xor(a: String, b: String): String
  def bitCount(e: String): String
  def sort(l: String): String
  def arrayLit(items: Seq[String]): String
  /** Distinct-set intersection size; inputs must already be distinct. */
  def interSize(a: String, b: String): String
  def explodeSelect(cols: String, from: String, arrayExpr: String, alias: String): String
  /** Aggregate rows into an array (order UNDEFINED — wrap in [[sort]]). */
  def arrayAgg(e: String): String
}

object SparkDialect extends Dialect {
  def transform(l: String, x: String, body: String) = s"transform($l, $x -> $body)"
  def reduce(l: String, init: String, acc: String, x: String, body: String) =
    s"aggregate($l, $init, ($acc, $x) -> $body)"
  def filter(l: String, x: String, body: String) = s"filter($l, $x -> $body)"
  def seq(a: String, b: String) =
    s"slice(sequence($a, greatest($b, $a)), 1, greatest(($b) - ($a) + 1, 0))"
  def elem(l: String, i: String) = s"element_at($l, $i)"
  def arrayMin(l: String) = s"array_min($l)"
  def len(l: String) = s"size($l)"
  def contains(l: String, e: String) = s"array_contains($l, $e)"
  def distinct(l: String) = s"array_distinct($l)"
  def slice(l: String, from: String, n: String) = s"slice($l, $from, $n)"
  def prepend(l: String, e: String) = s"array_prepend($l, $e)"
  def joinWs(l: String) = s"array_join($l, ' ')"
  def splitWs(e: String) = s"split(trim($e), '\\\\s+')"
  def regexpCount(e: String, pat: String) = s"size(regexp_extract_all($e, '$pat', 0))"
  def regexpReplaceAll(e: String, pat: String, rep: String) =
    s"regexp_replace($e, '$pat', '$rep')"
  def shiftRight(e: String, i: String) = s"shiftright($e, $i)"
  def shiftLeft1(i: String) = s"shiftleft(CAST(1 AS BIGINT), $i)"
  def shiftLeft(e: String, i: String) = s"shiftleft($e, $i)"
  def xor(a: String, b: String) = s"($a ^ $b)"
  def bitCount(e: String) = s"bit_count($e)"
  def sort(l: String) = s"array_sort($l)"
  def arrayLit(items: Seq[String]) = items.map(i => s"'$i'").mkString("array(", ", ", ")")
  def interSize(a: String, b: String) = s"size(array_intersect($a, $b))"
  def explodeSelect(cols: String, from: String, arrayExpr: String, alias: String) =
    s"SELECT $cols, explode($arrayExpr) AS $alias FROM $from"
  def arrayAgg(e: String) = s"collect_list($e)"
}

object DuckDialect extends Dialect {
  def transform(l: String, x: String, body: String) = s"list_transform($l, $x -> $body)"
  def reduce(l: String, init: String, acc: String, x: String, body: String) =
    s"list_reduce(list_prepend($init, $l), ($acc, $x) -> $body)"
  def filter(l: String, x: String, body: String) = s"list_filter($l, $x -> $body)"
  def seq(a: String, b: String) = s"range($a, ($b) + 1)"
  def elem(l: String, i: String) = s"$l[$i]"
  def arrayMin(l: String) = s"list_min($l)"
  def len(l: String) = s"len($l)"
  def contains(l: String, e: String) = s"list_contains($l, $e)"
  def distinct(l: String) = s"list_distinct($l)"
  def slice(l: String, from: String, n: String) = s"list_slice($l, $from, ($from) + ($n) - 1)"
  def prepend(l: String, e: String) = s"list_prepend($e, $l)"
  def joinWs(l: String) = s"array_to_string($l, ' ')"
  def splitWs(e: String) = s"regexp_split_to_array(trim($e), '\\s+')"
  def regexpCount(e: String, pat: String) = s"len(regexp_extract_all($e, '$pat'))"
  def regexpReplaceAll(e: String, pat: String, rep: String) =
    s"regexp_replace($e, '$pat', '$rep', 'g')"
  def shiftRight(e: String, i: String) = s"($e >> ($i))"
  def shiftLeft1(i: String) = s"(CAST(1 AS BIGINT) << ($i))"
  def shiftLeft(e: String, i: String) = s"($e << ($i))"
  def xor(a: String, b: String) = s"xor($a, $b)"
  def bitCount(e: String) = s"bit_count(CAST($e AS BIGINT))"
  def sort(l: String) = s"list_sort($l)"
  def arrayLit(items: Seq[String]) = items.map(i => s"'$i'").mkString("[", ", ", "]")
  /** Distinct-set intersection size; inputs must already be distinct. */
  def interSize(a: String, b: String) =
    s"len(list_filter($a, x -> list_contains($b, x)))"
  def explodeSelect(cols: String, from: String, arrayExpr: String, alias: String) =
    s"SELECT $cols, unnest($arrayExpr) AS $alias FROM $from"
  def arrayAgg(e: String) = s"list($e)"
}

object Formulas {
  /** Mersenne prime 2^31 - 1: hash range [0, P). */
  val P = "2147483647"

  /** Deterministic 31-bit string hash: polynomial (base 31) over the 32 hex
    * digits of md5(s). Well-mixed, overflow-free, identical in both engines.
    */
  def strHash(d: Dialect, s: String): String = strHashBase(d, s, 31)

  private def strHashBase(d: Dialect, s: String, base: Int): String =
    d.reduce(
      d.transform(d.seq("1", "32"), "i", s"CAST(ascii(substr(md5($s), i, 1)) AS BIGINT)"),
      "CAST(0 AS BIGINT)", "acc", "x", s"(acc*$base + x) % $P")

  /** Cheap deterministic 31-bit hash: base-31 polynomial over the string's
    * OWN characters (no md5) — for boundary/bucket decisions where mixing
    * quality matters less than per-value cost (the md5 fold is ~6× the
    * work per token). `s` must not reference lambda variables named
    * `i`/`acc`/`x` (it is embedded inside this fold's lambda body).
    */
  def strHashCheap(d: Dialect, s: String): String =
    d.reduce(
      d.transform(d.seq("1", s"length($s)"), "i",
        s"CAST(ascii(substr($s, i, 1)) AS BIGINT)"),
      "CAST(0 AS BIGINT)", "acc", "x", s"(acc*31 + x) % $P")

  /** 62-bit string hash for ID ASSIGNMENT: two independent 31-bit folds
    * (bases 31 and 37) composed as `h1 * 2^31 + h2`. A single 31-bit id
    * space collides at birthday rates on ~50k distinct values — fine for
    * candidate generation (collisions only add candidates), NOT fine for
    * dictionary ids, where a collision silently merges two tokens and
    * violates the unique-id decode contract. 62 bits pushes the birthday
    * bound past 10^9 distinct tokens (~2e-4 collision odds).
    */
  def strHash62(d: Dialect, s: String): String =
    s"(${strHashBase(d, s, 31)}) * 2147483648 + (${strHashBase(d, s, 37)})"

  /** Whitespace tokens of a text column. */
  def tokens(d: Dialect, text: String): String = d.splitWs(text)

  /** Word n-gram shingles (space-joined) of a token-array expression. */
  def shingles(d: Dialect, toks: String, n: Int): String =
    d.transform(
      d.seq("1", s"${d.len(toks)} - ${n - 1}"),
      "i", d.joinWs(d.slice(toks, "i", n.toString)))

  // NOTE: the MinHash/SimHash/Jaccard pipelines are built from explode +
  // vocabulary-join + codegen'd MIN/SUM aggregates in queries/Pipeline.scala
  // (the scale-correct formulation); array-fold variants of those operators
  // were removed from here to keep exactly one formulation per operator.

  /** Dot product of two float-array columns over dims [1, n], computed as
    * double with defined left-to-right order — bit-identical across engines.
    * Spark side: the codegen'd native expression `graft_dot`
    * ([[graft.functions.DotProductExpr]], registered per session); DuckDB
    * side: the equivalent defined-order fold.
    */
  def dot(d: Dialect, a: String, b: String, n: Int): String = d match {
    case SparkDialect => s"graft_dot($a, $b)"
    case _ =>
      d.reduce(
        d.transform(d.seq("1", n.toString), "i",
          s"CAST(${d.elem(a, "i")} AS DOUBLE) * CAST(${d.elem(b, "i")} AS DOUBLE)"),
        "CAST(0.0 AS DOUBLE)", "acc", "x", "acc + x")
  }

  /** L2 norm (sqrt of self-dot). */
  def norm(d: Dialect, a: String, n: Int): String = s"sqrt(${dot(d, a, a, n)})"

  /** Deterministic pseudo-random hyperplane component j,i in [-499.5, 499.5]:
    * LCG-mixed, expressible identically in both engines. The `j*i` CROSS
    * term is load-bearing: an additively separable form f(j) + g(i) makes
    * every plane the SAME direction with a different bias — sign patterns
    * then collapse to ~n_planes threshold patterns (measured: 594 of 8192
    * buckets occupied at 13 planes, max bucket 13k of 200k rows,
    * Σk² = 845M candidate pairs; balanced after the cross term).
    */
  def planeComponent(j: String, i: String): String =
    s"CAST(((CAST($j AS BIGINT)*1103515245 + CAST($i AS BIGINT)*12345 + CAST($j AS BIGINT)*CAST($i AS BIGINT)*40503 + 54321) % 1000 + 1000) % 1000 AS DOUBLE) - 499.5"

  /** LSH bucket id from `nPlanes` hyperplane sign bits of embedding `v`. */
  def lshBucket(d: Dialect, v: String, dim: Int, nPlanes: Int): String =
    lshBucketExpr(d, v, dim, nPlanes.toString)

  /** [[lshBucket]] with the plane count as a SQL EXPRESSION (a column or a
    * precomputed literal) — the auto-scaled bucketing path: bucket count
    * derived from corpus size keeps the expected bucket width CONSTANT as
    * the corpus grows, so bucket self-joins stay linear instead of
    * quadratic-at-fixed-width. The expression must not reference lambda
    * variables named `j`/`i`/`acc`/`a2`/`x`.
    */
  def lshBucketExpr(d: Dialect, v: String, dim: Int, nPlanes: String): String =
    d.reduce(d.seq("0", s"($nPlanes) - 1"), "CAST(0 AS BIGINT)", "acc", "j",
      s"acc*2 + (CASE WHEN (${d.reduce(
        d.transform(d.seq("1", dim.toString), "i",
          s"CAST(${d.elem(v, "i")} AS DOUBLE) * (${planeComponent("j", "i")})"),
        "CAST(0.0 AS DOUBLE)", "a2", "x", "a2 + x")}) > 0 THEN 1 ELSE 0 END)")

  // ---- sketch formulas (count-min, HyperLogLog) — exact BIGINT
  // arithmetic shared by the streaming sketch-state gates and the batch
  // set-operations gate; every intermediate stays below 2^62 (DuckDB
  // errors on BIGINT overflow, Java wraps — the arithmetic must never
  // overflow to be identical). ----

  /** HLL key hash — md5-backed single-fold [[strHash]] over the key's decimal
    * string (both engines accept CAST(x AS STRING) and md5 is
    * bit-identical everywhere): low 6 bits pick the register, the next
    * 24 feed the rank statistic (30 bits needed — one 31-bit fold
    * suffices; the 62-bit double fold doubled the cost for nothing). A
    * multiplicative-congruential hash here measured 77% high on
    * sequential-id cohorts (lattice artifacts in the register bits); md5
    * mixing restored the ~13%/√m accuracy HLL promises. */
  def hllHash(d: Dialect, u: String): String =
    strHash(d, s"CAST($u AS STRING)")

  /** One md5-backed key hash serving all three count-min rows — hash ONCE
    * per row and derive cells from the COLUMN (the 32-step fold per
    * (row × reference) was the measured cost, not the sketch math). */
  def cmsHash(d: Dialect, u: String): String =
    strHash(d, s"CAST($u AS STRING)")

  /** Count-min cell of row `r` from a precomputed hash COLUMN: disjoint
    * bytes, width 256. The hash has 31 bits and rows 0..2 consume bits
    * 0..23, so 3 rows × 256 cells is the ceiling it supports; more rows
    * need [[strHash62]]. */
  def cmsCellFromHash(d: Dialect, h: String, r: String): String =
    s"(${d.shiftRight(h, s"(8 * ($r))")} % 256)"

  /** HLL rank of a 24-bit window column `w` (a COLUMN name, not an inline
    * expression — the smear repeats it 32×): rho = 25 − bit_length(w),
    * where bit_length is an exact shift-OR smear + popcount — no float
    * log2. w = 0 (no bits) yields the max rank 25. */
  def hllRho(d: Dialect, w: String): String = {
    def smear(e: String, sh: Int) = s"($e | ${d.shiftRight(e, sh.toString)})"
    val s5 = smear(smear(smear(smear(smear(w, 1), 2), 4), 8), 16)
    s"(25 - ${d.bitCount(s5)})"
  }

  /** HLL readout constant alpha_64 · m² · 2^25, pre-folded in Scala and
    * emitted in E-notation — BOTH engines parse a bare decimal literal as
    * DECIMAL (different division semantics), but E-notation is DOUBLE in
    * both, so the readout's one float op is a single double division.
    * alpha_64 = 0.709 is the PINNED small-m constant (Flajolet et al. §4
    * tabulates alpha_16/32/64 explicitly; the asymptotic
    * 0.7213/(1+1.079/m) formula applies only from m = 128 and at m = 64
    * reads ~0.05% high). */
  val hllAlphaScale64: Double =
    0.709 * 64.0 * 64.0 * 33554432.0

  /** HLL readout WITH the small-range correction (Flajolet et al. §4,
    * the branch every real HLL ships): when the raw estimate sits below
    * 2.5·m and empty registers remain, switch to LinearCounting
    * m·ln(m/V) — the ln values come from a 64-entry LITERAL table
    * precomputed here (E-notation, parsed DOUBLE by both engines), so no
    * libm call happens inside either engine. `zCol`/`activeCol` are the
    * exact integer register sum and the non-empty register count. */
  def hllEstimateCorrected(d: Dialect, zCol: String, activeCol: String): String = {
    val raw = s"($hllAlphaScale64 / CAST($zCol AS DOUBLE))"
    val lc = (0 to 64).map(v =>
      if (v == 0) "0.0E0" else "%.17E".format(64.0 * Math.log(64.0 / v)))
      .mkString(", ")
    val arr = d match {
      case SparkDialect => s"array($lc)"
      case DuckDialect  => s"[$lc]"
    }
    s"(CASE WHEN 64 - $activeCol > 0 AND $raw <= 160.0E0 " +
      s"THEN ${d.elem(arr, s"CAST(64 - $activeCol + 1 AS INTEGER)")} " +
      s"ELSE $raw END)"
  }

  /** A 0..n−1 integer relation (`SELECT ... AS alias`), per dialect. */
  def intRows(d: Dialect, n: Int, alias: String): String = d match {
    case SparkDialect => s"SELECT explode(sequence(0, ${n - 1})) AS $alias"
    case DuckDialect  => s"SELECT unnest(range(0, $n)) AS $alias"
  }

  /** Fixed-point log2 with 16 fractional bits over a positive BIGINT
    * COLUMN `c` (< 2^31): integer part = bit_length − 1 (exact shift-OR
    * smear + popcount), fractional part = a 64-entry literal table of
    * round(log2(1 + i/64)·2^16) indexed by the 6 mantissa bits below the
    * msb. Both engines evaluate the identical integer expression over the
    * identical literal table — the "no libm log" discipline for scores
    * that only need a deterministic monotone log, not 53-bit precision.
    */
  def log2Micro(d: Dialect, c: String): String = {
    def smear(e: String, sh: Int) = s"($e | ${d.shiftRight(e, sh.toString)})"
    val s5 = smear(smear(smear(smear(smear(c, 1), 2), 4), 8), 16)
    val msb = s"(${d.bitCount(s5)} - 1)"
    val frac = (0 until 64).map(i =>
      Math.round(Math.log(1.0 + i / 64.0) / Math.log(2.0) * 65536.0))
      .mkString(", ")
    val arr = d match {
      case SparkDialect => s"array($frac)"
      case DuckDialect  => s"[$frac]"
    }
    val m = s"(CASE WHEN $msb >= 6 THEN ${d.shiftRight(c, s"($msb - 6)")} - 64 " +
      s"ELSE ${d.shiftLeft(c, s"(6 - $msb)")} - 64 END)"
    s"(CAST($msb AS BIGINT) * 65536 + ${d.elem(arr, s"CAST($m + 1 AS INTEGER)")})"
  }
}
