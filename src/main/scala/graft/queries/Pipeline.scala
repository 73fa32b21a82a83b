package graft.queries

import graft.functions.{Dialect, DuckDialect, Formulas => F, SparkDialect}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Training-data pipeline operators (the beyond-parity north star of
  * SURVEY §7.7): deduplication (exact, MinHash+LSH, n-gram Jaccard with
  * prefix filtering, SimHash), similarity search (exact cosine top-k,
  * LSH-bucketed ANN), and text analysis (token stats, quality, language id,
  * fingerprints) over the `documents` / `embeddings` tables.
  *
  * Each operator's Spark SQL and its DuckDB oracle come from ONE
  * dialect-parameterized template ([[graft.functions.Formulas]]), so both
  * engines compute identical arithmetic — including bit-identical doubles
  * (defined-order folds) — and the driver's hash compare passes by
  * construction.
  *
  * Scale design: no UDFs, no driver state — all per-row scalar expressions
  * (codegen-able) plus standard shuffles. The LSH/banding/prefix-filter
  * variants exist precisely so the pairwise steps never materialize the
  * full O(n²) cross join at 100 TB: candidates come from equi-joins on
  * band/bucket/prefix keys (shuffle-partitionable by key), and the exact
  * verification runs only on candidates.
  */
object Pipeline {

  private val K = 16 // minhash signature length
  private val R = 4  // rows per LSH band -> 4 bands
  private[queries] val DIM = 64 // embedding dimension (TESTDATA embeddings)

  private def docQuery(name: String, sql: Dialect => String): QueryDef =
    QueryDef(name, sql(DuckDialect)) { (s, dir) =>
      Stage.tables(s, dir, "documents"); s.sql(sql(SparkDialect))
    }

  private def embQuery(name: String, sql: Dialect => String): QueryDef =
    QueryDef(name, sql(DuckDialect)) { (s, dir) =>
      graft.functions.VectorExpressions.register(s)
      Stage.tables(s, dir, "embeddings"); s.sql(sql(SparkDialect))
    }

  private def custQuery(name: String, sql: Dialect => String): QueryDef =
    QueryDef(name, sql(DuckDialect)) { (s, dir) =>
      Stage.tables(s, dir, "customer"); s.sql(sql(SparkDialect))
    }

  // ---------------------------------------------------------------- dedup

  /** Exact dedup by content hash: one group per distinct text, keeper = min
    * doc_id. At scale: a single hash-partitioned groupBy on a 31-bit (then
    * 64/128-bit) content hash — no text column in the shuffle.
    */
  private def dedupExact(d: Dialect): String =
    s"""SELECT h, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_copies
       |FROM (SELECT doc_id, ${F.strHash(d, "text")} AS h FROM documents) t
       |GROUP BY h""".stripMargin

  /** Cross-document repeated n-gram spans — the exact-substring-dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499) at word-4-gram granularity: every span
    * occurring in MORE THAN ONE document, with occurrence/document counts
    * and the canonical first location. Downstream, such spans are the
    * memorization hazard an exact-dedup pass clips.
    *
    * Scale shape: explode is map-only; the aggregate shuffles on the 62-bit
    * span hash (never the raw text as key) with map-side partial
    * aggregation; the span string rides along only as a MIN payload. The
    * >1-document HAVING keeps the output a small "hazard report", not a
    * second corpus.
    */
  private def dedupSpans(d: Dialect): String =
    s"""WITH t AS (SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM documents),
       |e AS (${d.explodeSelect("doc_id", "t", F.shingles(d, "toks", 4), "span")}),
       |agg AS (SELECT span,
       |    CAST(COUNT(*) AS BIGINT) AS n_occ,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(MIN(doc_id) AS BIGINT) AS first_doc
       |  FROM e GROUP BY span
       |  HAVING COUNT(DISTINCT doc_id) > 1)
       |SELECT ${F.strHash62(d, "span")} AS span_hash, span, n_occ, n_docs, first_doc
       |FROM agg""".stripMargin

  /** MinHash(K=16) + LSH(4 bands × r=4) near-dup candidate pairs with
    * signature-estimated Jaccard >= 0.5. Candidates come ONLY from band-key
    * equi-joins (the scale path — shuffle by band key, no cross join); the
    * oracle replicates the banding, so recall semantics are part of the
    * operator contract.
    *
    * Shape chosen for 100 TB: shingles are EXPLODED and hashed through a
    * DISTINCT-shingle vocabulary join (hash each distinct shingle once, not
    * once per occurrence), and the signature is K codegen'd MIN aggregates —
    * no interpreted higher-order functions in the per-row hot path.
    */
  /** Explode word-3-shingles with the token array MATERIALIZED as a column
    * first: inlining `split(text)` into the shingle lambda would re-run the
    * regex split once per shingle (O(tokens^2) splits per document).
    */
  private[queries] def shingleExplode(d: Dialect,
      src: String = "documents"): String =
    d.explodeSelect("doc_id",
      s"(SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM $src) tw",
      F.shingles(d, "toks", 3), "s")

  /** Spark-side gates MATERIALIZE the exploded shingles once (persisted
    * temp view) and reference the view from the `sh` CTE: Catalyst inlines
    * a CTE referenced twice (the distinct-vocab branch AND the join
    * branch), which re-ran the explode + interpreted shingle lambdas per
    * reference — measured 2× the explode cost on every shingle pipeline.
    * The DuckDB oracle keeps the inline CTE (its arithmetic is identical
    * either way). Released by the harness's per-query clearCache().
    *
    * MATERIALIZATION RULE (round-6 audit): `.persist()` + temp view only
    * dedups downstream references when the cached plan MATCHES at lookup —
    * and a plan whose SQL contains a WITH clause keeps `WithCTE`/
    * `CTERelationRef` nodes in its analyzed form, whose per-query ids
    * defeat CacheManager's canonical comparison. Result: every reference
    * silently re-ran the whole signature/set pipeline (dedup_minhash_lsh's
    * plan carried THREE inlined copies of the sig aggregate; measured 2.6s
    * → 1.2s isolated when fixed). So: CTE-free plans (this explode, the
    * token explodes, tf) persist + view; CTE-bearing plans (minhash sigs,
    * ngram sets, simhash) must be staged with [[Stage.view]] — its lineage
    * truncation makes every reference scan the materialized RDD
    * unconditionally.
    */
  private def cachedShingles(s: SparkSession, dir: String): String = {
    Stage.tables(s, dir, "documents")
    s.sql(shingleExplode(SparkDialect)).persist().createOrReplaceTempView("graft_sh")
    "SELECT doc_id, s FROM graft_sh"
  }

  /** Same materialization for the whitespace-token explode (`tok` CTE). */
  private def cachedTokens(s: SparkSession, dir: String): String = {
    Stage.tables(s, dir, "documents")
    s.sql(SparkDialect.explodeSelect("doc_id", "documents",
        F.tokens(SparkDialect, "text"), "tk"))
      .persist().createOrReplaceTempView("graft_tok")
    "SELECT doc_id, tk FROM graft_tok"
  }

  private def minhashSigSql(d: Dialect, shSrc: Option[String] = None): String = {
    val mins = (0 until K).map { k =>
      s"MIN(((${2 * k + 3}*h + ${k * k + 1}) % ${F.P})) AS s$k"
    }.mkString(",\n    ")
    s"""WITH sh AS (${shSrc.getOrElse(shingleExplode(d))}),
       |v AS (SELECT s, ${F.strHash(d, "s")} AS h
       |  FROM (SELECT DISTINCT s FROM sh) vd),
       |j AS (SELECT sh.doc_id, v.h FROM sh JOIN v ON sh.s = v.s)
       |SELECT doc_id, $mins
       |FROM j GROUP BY doc_id""".stripMargin
  }

  /** Band key b (of 4) folded from 4 consecutive signature columns. */
  private def bandKeyCols: Seq[String] = (0 until K / R).map { b =>
    val fold = (0 until R).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
      s"(($acc)*1000003 + s${b * R + i}) % ${F.P}"
    }
    s"($fold)*4 + $b"
  }

  private def minhashPairsSql(d: Dialect, sigTable: String): String = {
    val est = (0 until K).map(k => s"(CASE WHEN sa.s$k = sb.s$k THEN 1 ELSE 0 END)")
      .mkString("CAST(", " + ", s" AS DOUBLE) / $K")
    val bandArray = bandKeyCols.mkString(
      if (d == SparkDialect) "array(" else "[", ", ",
      if (d == SparkDialect) ")" else "]")
    s"""WITH b AS (${d.explodeSelect("doc_id", sigTable, bandArray, "bk")}),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM b x JOIN b y ON x.bk = y.bk AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id)
       |SELECT * FROM (
       |  SELECT CAST(p.a AS BIGINT) AS a, CAST(p.b AS BIGINT) AS b,
       |    $est AS est_sim
       |  FROM pairs p
       |  JOIN $sigTable sa ON p.a = sa.doc_id
       |  JOIN $sigTable sb ON p.b = sb.doc_id) s
       |WHERE est_sim >= 0.5""".stripMargin
  }

  /** Per-batch (doc_id, band-key) relation for the streaming ingestion
    * dedup gate ([[Streams]] stream_dedup_ingest): MinHash(K=16) + 4-band
    * LSH over word-4-gram shingles, with the shingle hashes computed
    * POSITIONALLY via the Karp-Rabin token-hash combination
    * ([[scrubShgCtes]] — the winnowing lesson: no shingle strings, no
    * per-shingle digest, no vocabulary join). The whole batch plan is ONE
    * exchange: posexplode (map) → lead-window on doc_id → the 16 MIN
    * aggregates GROUP BY doc_id reuse the window's hashpartitioning →
    * band explode (map). Duplicate shingle occurrences need no DISTINCT —
    * MIN over repeats is MIN.
    */
  private def ingestSigMins: String = (0 until K).map { k =>
    s"MIN(((${2 * k + 3}*sh + ${k * k + 1}) % ${F.P})) AS s$k"
  }.mkString(",\n    ")

  private[queries] def ingestBands(s: SparkSession, docs: DataFrame): DataFrame = {
    val d = SparkDialect
    docs.createOrReplaceTempView("graft_ingest_docs")
    s.sql(s"""WITH ${scrubShgCtes(d, "graft_ingest_docs")},
      |sigs AS (SELECT doc_id, $ingestSigMins
      |  FROM sshg WHERE sh IS NOT NULL GROUP BY doc_id)
      |${d.explodeSelect("doc_id", "sigs",
          bandKeyCols.mkString("array(", ", ", ")"), "bk")}""".stripMargin)
  }

  /** Batch-insensitive oracle for stream_dedup_ingest: a document is a dup
    * iff it shares an LSH band with a doc that arrived strictly earlier —
    * earlier batch (`doc_id % 3` arrival schedule), or same batch with a
    * lower doc_id. The store indexes every SEEN doc's bands (dups too):
    * a near-dup's fingerprint still differs from its keeper's, and
    * dropping it from the store would let its own near-dups re-enter.
    * Docs too short for one shingle have no bands — never dups, still
    * emitted (LEFT JOIN from the full base).
    */
  private[queries] def ingestDedupOracle: String = {
    val bandArray = bandKeyCols.mkString("[", ", ", "]")
    s"""WITH ${scrubShgCtes(DuckDialect)},
       |sigs AS (SELECT doc_id, $ingestSigMins
       |  FROM sshg WHERE sh IS NOT NULL GROUP BY doc_id),
       |b AS (${DuckDialect.explodeSelect("doc_id", "sigs", bandArray, "bk")}),
       |dups AS (SELECT DISTINCT x.doc_id FROM b x JOIN b y ON x.bk = y.bk
       |  AND (y.doc_id % 3 < x.doc_id % 3
       |    OR (y.doc_id % 3 = x.doc_id % 3 AND y.doc_id < x.doc_id))),
       |base AS (SELECT doc_id FROM documents)
       |SELECT CAST(d.doc_id % 3 + 1 AS BIGINT) AS version,
       |  CAST(d.doc_id AS BIGINT) AS doc_id,
       |  CAST(CASE WHEN dp.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
       |FROM base d LEFT JOIN dups dp ON dp.doc_id = d.doc_id""".stripMargin
  }

  /** The quality-keep predicate as a 1/0 relation `(doc_id, keep)` — the
    * EXACT arithmetic of text_quality's `quality_keep` (≥ 20 tokens and
    * stopword ratio ≥ 0.05), shared by the streaming E2E ingest gate and
    * its oracle.
    */
  private[queries] def qualityKeepSelect(d: Dialect, docsTable: String): String = {
    val stop = d.arrayLit(Seq("the", "a", "and", "of", "to", "in", "is"))
    val stopRatio =
      s"CAST(${d.len(d.filter("toks", "t", d.contains(stop, "t")))} AS DOUBLE) / ${d.len("toks")}"
    s"""SELECT doc_id, CASE WHEN ${d.len("toks")} >= 20 AND ($stopRatio) >= 0.05
       |  THEN 1 ELSE 0 END AS keep
       |FROM (SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM $docsTable) tq""".stripMargin
  }

  /** Spark-side per-batch quality split for the E2E ingest gate. */
  private[queries] def qualityKeep(s: SparkSession, docs: DataFrame): DataFrame = {
    docs.createOrReplaceTempView("graft_ingest_qdocs")
    s.sql(qualityKeepSelect(SparkDialect, "graft_ingest_qdocs"))
  }

  /** Batch-insensitive oracle for stream_ingest_e2e: quality-rejects never
    * enter the dedup store; among quality-passing docs the dup rule is the
    * [[ingestDedupOracle]] arrival rule (earlier batch, or lower id within
    * the batch). Statuses: 'quality' | 'dup' | 'ok'.
    */
  private[queries] def ingestE2eOracle: String = {
    val bandArray = bandKeyCols.mkString("[", ", ", "]")
    s"""WITH ${scrubShgCtes(DuckDialect)},
       |qual AS (${qualityKeepSelect(DuckDialect, "documents")}),
       |sigs AS (SELECT doc_id, $ingestSigMins
       |  FROM sshg WHERE sh IS NOT NULL GROUP BY doc_id),
       |b AS (${DuckDialect.explodeSelect("doc_id", "sigs", bandArray, "bk")}),
       |bq AS (SELECT b.doc_id, b.bk FROM b
       |  JOIN qual ON qual.doc_id = b.doc_id AND qual.keep = 1),
       |dups AS (SELECT DISTINCT x.doc_id FROM bq x JOIN bq y ON x.bk = y.bk
       |  AND (y.doc_id % 3 < x.doc_id % 3
       |    OR (y.doc_id % 3 = x.doc_id % 3 AND y.doc_id < x.doc_id)))
       |SELECT CAST(d.doc_id % 3 + 1 AS BIGINT) AS version,
       |  CAST(d.doc_id AS BIGINT) AS doc_id,
       |  CASE WHEN q.keep = 0 THEN 'quality'
       |       WHEN dp.doc_id IS NOT NULL THEN 'dup' ELSE 'ok' END AS status
       |FROM (SELECT doc_id FROM documents) d
       |JOIN qual q ON q.doc_id = d.doc_id
       |LEFT JOIN dups dp ON dp.doc_id = d.doc_id""".stripMargin
  }

  private def dedupMinhashLsh: QueryDef =
    QueryDef("dedup_minhash_lsh",
      s"""WITH sigs AS (${minhashSigSql(DuckDialect)})
         |, result AS (${minhashPairsSql(DuckDialect, "sigs")})
         |SELECT * FROM result""".stripMargin) { (s, dir) =>
      Stage.view("minhash_sigs", s.sql(minhashSigSql(SparkDialect, Some(cachedShingles(s, dir)))))
      s.sql(minhashPairsSql(SparkDialect, "minhash_sigs"))
    }

  /** Exact n-gram (3-shingle) Jaccard similarity join, threshold 0.5, via
    * PREFIX FILTERING (AllPairs/PPJoin): sort each doc's distinct shingle
    * hashes, emit only the first floor(n/2)+1 as candidate keys — any pair
    * with J >= 0.5 must share one (pigeonhole), so recall is exact while the
    * join stays an equi-join on shingle hash. Length-ratio pruning (|A| <=
    * 2|B|) is implied by the threshold and applied early.
    */
  private def ngramSetSql(d: Dialect, shSrc: Option[String] = None): String = {
    val collect =
      if (d == SparkDialect) "sort_array(collect_set(h))"
      else "list_sort(list(DISTINCT h))"
    s"""WITH sh AS (${shSrc.getOrElse(shingleExplode(d))}),
       |v AS (SELECT s, ${F.strHash(d, "s")} AS h
       |  FROM (SELECT DISTINCT s FROM sh) vd),
       |j AS (SELECT sh.doc_id, v.h FROM sh JOIN v ON sh.s = v.s)
       |SELECT doc_id, $collect AS sh FROM j GROUP BY doc_id""".stripMargin
  }

  /** Shared AllPairs prefix-filter scaffold (used by the Jaccard and
    * containment joins): explode per-doc sorted distinct hash sets, rank
    * each doc's shingles by GLOBAL document frequency ascending (rarest
    * first, hash tie-break — prefixes then hold rare shingles so the
    * candidate equi-join stays small even when a shingle occurs in
    * thousands of documents), keep `prefixLen` per doc as candidate keys,
    * join them against `ySide` ("c" = other prefixes for symmetric joins,
    * "r" = ALL ranked shingle rows for asymmetric containment), dedup
    * pairs, and verify with `verifyExpr`/`verifyWhere` over the full sets.
    * Exact recall by pigeonhole under any consistent global order.
    *
    * Both sides of the candidate join expose `rn` (the shingle's rank in
    * its doc's global-df order), so `pairPredicate` can apply the PPJoin
    * POSITIONAL filter (Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection"): a match at ranks (i, j) bounds the overlap by
    * `LEAST(i, j) + LEAST(x.n - i, y.n - j)` — commons strictly before the
    * match ≤ min(i,j)-1, this match = 1, commons after ≤ the smaller
    * remaining suffix. Every match row carries a valid upper bound, so
    * dropping rows whose bound misses the threshold's minimum overlap
    * keeps recall exact while shrinking the verify join's pair set.
    */
  private def prefixJoinSql(d: Dialect, setTable: String, prefixLen: String,
      ySide: String, pairPredicate: String, verifyName: String,
      verifyExpr: String, verifyWhere: String): String =
    s"""WITH tp AS (SELECT doc_id, sh, ${d.len("sh")} AS n FROM $setTable),
       |e AS (${d.explodeSelect(s"doc_id, ${d.len("sh")} AS n", setTable, "sh", "h")}),
       |df AS (SELECT h, COUNT(*) AS df FROM e GROUP BY h),
       |r AS (SELECT e.doc_id, e.h, e.n,
       |    ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY df.df, e.h) AS rn
       |  FROM e JOIN df ON e.h = df.h),
       |c AS (SELECT doc_id, h, n, rn FROM r WHERE rn <= $prefixLen),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM c x JOIN $ySide y ON x.h = y.h AND $pairPredicate
       |  GROUP BY x.doc_id, y.doc_id)
       |SELECT * FROM (
       |  SELECT CAST(p.a AS BIGINT) AS a, CAST(p.b AS BIGINT) AS b,
       |    $verifyExpr AS $verifyName
       |  FROM pairs p
       |  JOIN tp ta ON p.a = ta.doc_id
       |  JOIN tp tb ON p.b = tb.doc_id) s
       |WHERE $verifyWhere""".stripMargin

  /** The Jaccard join: length-ratio prune only. The PPJoin positional
    * filter (see prefixJoinSql doc; applied in the containment join) was
    * measured here and REVERTED — on this corpus the verify set after
    * prefix + length pruning is already tiny, so per-match-row positional
    * arithmetic on the dense candidate join costs more than the verify rows
    * it saves (6.5s vs 4.5s at sf0.1). It pays when the verify join
    * dominates — the asymmetric containment shape. */
  private def ngramPairsSql(d: Dialect, setTable: String): String = {
    val inter = d.interSize("ta.sh", "tb.sh")
    prefixJoinSql(d, setTable,
      prefixLen = s"n ${if (d == SparkDialect) "div" else "//"} 2 + 1",
      ySide = "c",
      pairPredicate = "x.doc_id < y.doc_id AND x.n <= 2*y.n AND y.n <= 2*x.n",
      verifyName = "sim",
      verifyExpr = s"CAST($inter AS DOUBLE) / (${d.len("ta.sh")} + ${d.len("tb.sh")} - $inter)",
      verifyWhere = "sim >= 0.5")
  }

  /** See class doc: exact-recall prefix-filter set-similarity join over
    * distinct 3-shingle hash sets (AllPairs-style), threshold 0.5.
    */
  private def dedupNgramJaccard: QueryDef =
    QueryDef("dedup_ngram_jaccard",
      s"""WITH sets AS (${ngramSetSql(DuckDialect)})
         |, result AS (${ngramPairsSql(DuckDialect, "sets")})
         |SELECT * FROM result""".stripMargin) { (s, dir) =>
      Stage.view("ngram_sets", s.sql(ngramSetSql(SparkDialect, Some(cachedShingles(s, dir)))))
      s.sql(ngramPairsSql(SparkDialect, "ngram_sets"))
    }

  /** Benchmark DECONTAMINATION — the training-pipeline gate that flags
    * train documents sharing word-3-gram content with an evaluation set
    * (here: every 20th document stands in for the benchmark corpus, so the
    * oracle is self-contained). Output = the removal list: doc_id plus how
    * many distinct eval shingles it contains.
    *
    * 100 TB shape: the eval n-gram set is tiny relative to the corpus
    * (benchmarks are small) — the join against it broadcasts, so
    * decontamination costs one corpus shingle pass + a broadcast join +
    * one aggregation; candidates never come from anything but the shingle
    * equi-join.
    */
  private def decontaminateSql(d: Dialect, shSrc: Option[String] = None): String =
    s"""WITH sh AS (${shSrc.getOrElse(shingleExplode(d))}),
       |eval AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
       |hits AS (SELECT sh.doc_id, COUNT(DISTINCT sh.s) AS n_hits
       |  FROM sh JOIN eval ON sh.s = eval.s
       |  WHERE sh.doc_id % 20 <> 0
       |  GROUP BY sh.doc_id)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(n_hits AS BIGINT) AS n_eval_ngrams
       |FROM hits""".stripMargin

  private def corpusDecontaminate: QueryDef =
    QueryDef("corpus_decontaminate", decontaminateSql(DuckDialect)) { (s, dir) =>
      s.sql(decontaminateSql(SparkDialect, Some(cachedShingles(s, dir))))
    }

  /** Bloom-prefiltered decontamination — same CONTRACT and oracle as
    * [[corpusDecontaminate]], different physical plan: the eval split's
    * distinct shingles fold into a bloom filter (Spark's internal
    * `BloomFilterAggregate`, registered as `graft_bloom_agg` — the same
    * sketch InjectRuntimeFilter builds), the training side drops
    * non-member shingles MAP-SIDE via `graft_might_contain`
    * before any shuffle, and the exact join runs only on survivors. Bloom
    * filters have no false negatives, so the exact join still sees every
    * true hit, and its equi-condition removes the bloom's false positives
    * — output bit-identical to the exact gate, which IS the correctness
    * claim.
    *
    * 100 TB shape: the eval set is benchmark-sized (bounded model state,
    * the IVF-centroid precedent); its bloom is a few hundred KB broadcast
    * once per executor via an uncorrelated scalar subquery, and the
    * dominant cost — shuffling the full training corpus's shingles into
    * the decontamination join — shrinks to the bloom pass rate
    * (|true hits| + fpp × |training shingles|). This is the standard
    * production decontamination shape; the exact gate documents the
    * semantics, this gate the scan-reduction plan.
    */
  private def corpusBloomDecontaminate: QueryDef =
    QueryDef("corpus_bloom_decontaminate",
      decontaminateSql(DuckDialect)) { (s, dir) =>
      graft.functions.VectorExpressions.register(s)
      val shSrc = cachedShingles(s, dir)
      // fold the eval split's distinct shingles into one bloom (1-row
      // binary); 20k expected items / 400k bits → fpp ≈ 1e-4 at sf0.1
      s.sql(
        s"""SELECT graft_bloom_agg(xxhash64(s),
           |    CAST(20000 AS BIGINT), CAST(400000 AS BIGINT)) AS bf
           |FROM (SELECT DISTINCT s FROM ($shSrc) e WHERE doc_id % 20 = 0) ev"""
          .stripMargin)
        .createOrReplaceTempView("graft_decont_bloom")
      s.sql(
        s"""WITH sh AS ($shSrc),
           |eval AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
           |cand AS (SELECT doc_id, s FROM sh
           |  WHERE doc_id % 20 <> 0
           |    AND graft_might_contain((SELECT bf FROM graft_decont_bloom),
           |          xxhash64(s))),
           |hits AS (SELECT cand.doc_id, COUNT(DISTINCT cand.s) AS n_hits
           |  FROM cand JOIN eval ON cand.s = eval.s
           |  GROUP BY cand.doc_id)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CAST(n_hits AS BIGINT) AS n_eval_ngrams
           |FROM hits""".stripMargin)
    }

  /** 60-bit SimHash per document (60 rather than 64 keeps `1 << i` clear of
    * the BIGINT sign bit in both engines). Same 100 TB shape as MinHash:
    * explode tokens → hash only the DISTINCT-token vocabulary → 60 codegen'd
    * SUM aggregates (one per bit) → fold into the fingerprint. A wider
    * fingerprint also discriminates far better than 32 bits on corpora with
    * small shared vocabularies.
    */
  private val SimBits = 60

  private def simhashSql(d: Dialect, tokSrc: Option[String] = None): String = {
    val tokExpr = F.tokens(d, "text")
    val bitSums = (0 until SimBits).map { i =>
      s"SUM(CASE WHEN (${d.shiftRight("h", i.toString)} & 1) = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n    ")
    val fold = (0 until SimBits).map { i =>
      s"(CASE WHEN b$i > 0 THEN ${d.shiftLeft1(i.toString)} ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH tok AS (${tokSrc.getOrElse(d.explodeSelect("doc_id", "documents", tokExpr, "tk"))}),
       |v AS (SELECT tk, ${F.strHash(d, "tk")} AS h
       |  FROM (SELECT DISTINCT tk FROM tok) vd),
       |j AS (SELECT tok.doc_id, v.h FROM tok JOIN v ON tok.tk = v.tk),
       |bits AS (SELECT doc_id, $bitSums FROM j GROUP BY doc_id)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, $fold AS simhash
       |FROM bits""".stripMargin
  }

  private def dedupSimhash: QueryDef =
    QueryDef("dedup_simhash", simhashSql(DuckDialect)) { (s, dir) =>
      s.sql(simhashSql(SparkDialect, Some(cachedTokens(s, dir))))
    }

  /** SimHash near-dup pairs with Hamming distance <= 3, candidates from
    * 4×15-bit band equi-joins — exact recall by pigeonhole (<=3 differing
    * bits cannot touch all 4 bands). The scale path for billion-doc dedup:
    * 4 shuffles on 15-bit keys, then a cheap popcount verify.
    */
  private def simhashPairsSql(d: Dialect, simTable: String): String = {
    val bands = (0 until 4).map { b =>
      s"((${d.shiftRight("simhash", (b * 15).toString)}) & 32767)*4 + $b"
    }.mkString(if (d == SparkDialect) "array(" else "[", ", ",
      if (d == SparkDialect) ")" else "]")
    // hamming filter INSIDE the band join: the ~2M raw candidates are
    // filtered during the hash-join probe (codegen'd popcount) and only the
    // surviving near-dup pairs reach the dedup GROUP BY exchange.
    s"""WITH b AS (${d.explodeSelect("doc_id, simhash", simTable, bands, "bk")}),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |    MIN(x.simhash) AS ha, MIN(y.simhash) AS hb
       |  FROM b x JOIN b y ON x.bk = y.bk AND x.doc_id < y.doc_id
       |    AND ${d.bitCount(d.xor("x.simhash", "y.simhash"))} <= 3
       |  GROUP BY x.doc_id, y.doc_id)
       |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       |  CAST(${d.bitCount(d.xor("ha", "hb"))} AS BIGINT) AS hamming
       |FROM pairs""".stripMargin
  }

  private def dedupSimhashPairs: QueryDef =
    QueryDef("dedup_simhash_pairs",
      s"""WITH sims AS (${simhashSql(DuckDialect)})
         |, result AS (${simhashPairsSql(DuckDialect, "sims")})
         |SELECT * FROM result""".stripMargin) { (s, dir) =>
      Stage.view("simhash_vals", s.sql(simhashSql(SparkDialect, Some(cachedTokens(s, dir)))))
      s.sql(simhashPairsSql(SparkDialect, "simhash_vals"))
    }

  // ---------------------------------------------------------- similarity

  /** Exact cosine top-k (k=5): brute-force baseline over a query subset
    * (every 50th vector). Dot/norm folds are defined-order, so scores are
    * bit-identical across engines. At scale the probe side is small and
    * broadcast; the corpus scan is a single pass.
    */
  /** Brute-force cosine top-k SQL over a query subset (every `modulus`-th
    * vector), shared by the exact baseline and the IVF exhaustive oracle.
    */
  private def bruteForceTopkSql(d: Dialect, modulus: Int, topk: Int): String = {
    // zero-norm guard: cosine of a zero vector is NaN, which Spark orders as
    // the largest double under DESC — define it as 0 in BOTH engines
    val cos = s"CASE WHEN qn * en > 0 THEN (${F.dot(d, "qv", "ev", DIM)}) / (qn * en) ELSE 0.0 END"
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv,
       |    ${F.norm(d, "embedding", DIM)} AS qn FROM embeddings
       |  WHERE vec_id % $modulus = 0),
       |scored AS (
       |  SELECT qid, e.vec_id AS nid, $cos AS score
       |  FROM q CROSS JOIN (SELECT vec_id, embedding AS ev,
       |    ${F.norm(d, "embedding", DIM)} AS en FROM embeddings) e
       |  WHERE e.vec_id <> qid)
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid, score,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM (SELECT qid, nid, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
       |  FROM scored) s
       |WHERE rnk <= $topk""".stripMargin
  }

  private def simTopkCosine(d: Dialect): String = bruteForceTopkSql(d, 50, 5)

  /** LSH-bucketed ANN (8 deterministic hyperplanes → 256 buckets): top-3
    * within the probe's bucket. The scale variant of top-k: candidates come
    * from a bucket equi-join instead of a cross join.
    */
  private[queries] def simAnnLsh(d: Dialect): String = {
    // zero-norm guard as in bruteForceTopkSql
    val cos = s"CASE WHEN qn * en > 0 THEN (${F.dot(d, "qv", "ev", DIM)}) / (qn * en) ELSE 0.0 END"
    s"""WITH e AS (SELECT vec_id, embedding,
       |    ${F.norm(d, "embedding", DIM)} AS nrm,
       |    ${F.lshBucket(d, "embedding", DIM, 8)} AS bkt FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn, bkt FROM e
       |  WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q.qid, e.vec_id AS nid, $cos AS score
       |  FROM q JOIN (SELECT vec_id, embedding AS ev, nrm AS en, bkt FROM e) e
       |    ON q.bkt = e.bkt AND e.vec_id <> q.qid)
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid, score,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM (SELECT qid, nid, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
       |  FROM scored) s
       |WHERE rnk <= 3""".stripMargin
  }

  /** MUTUAL k-NN GRAPH (round-6): the edge list graph-based clustering and
    * diversity filtering build over an embedding corpus — (u, v) connected
    * iff each is in the other's top-3 cosine neighbors. Candidates come
    * from a 6-plane LSH bucket equi-join (64 buckets — the scale path: the
    * pair space is bucket-bounded, never all-pairs), top-3 per node via one
    * rank window, mutuality via a self equi-join on the reversed pair.
    * Bucketed-kNN recall semantics are part of the operator contract (the
    * oracle replicates the bucketing). Scale shape: equi-join on bucket id,
    * window partitioned by node, pair-keyed self-join — all
    * hash-partitionable; the rank window is per-node top-k
    * (WindowGroupLimit caps it map-side).
    */
  private def simKnnGraph(d: Dialect): String = {
    val cos = s"CASE WHEN an * bn > 0 THEN (${F.dot(d, "av", "bv", DIM)}) / (an * bn) ELSE 0.0 END"
    s"""WITH e AS (SELECT vec_id, embedding,
       |    ${F.norm(d, "embedding", DIM)} AS nrm,
       |    ${F.lshBucket(d, "embedding", DIM, 6)} AS bkt FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cos AS score
       |  FROM (SELECT vec_id, embedding AS av, nrm AS an, bkt FROM e) a
       |  JOIN (SELECT vec_id, embedding AS bv, nrm AS bn, bkt FROM e) b
       |    ON a.bkt = b.bkt AND b.vec_id <> a.vec_id),
       |knn AS (SELECT qid, nid, score FROM (
       |    SELECT qid, nid, score,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
       |    FROM scored) r WHERE rnk <= 3)
       |SELECT CAST(x.qid AS BIGINT) AS u, CAST(x.nid AS BIGINT) AS v, x.score
       |FROM knn x JOIN knn y ON x.qid = y.nid AND x.nid = y.qid
       |WHERE x.qid < x.nid""".stripMargin
  }

  /** AUTO-SCALED bucket width for LSH candidate generation: plane count
    * derived from the corpus size so the EXPECTED BUCKET WIDTH stays
    * constant (~32 rows) as the corpus grows — the fix for the
    * fixed-bucket kNN build whose within-bucket self-join is quadratic at
    * fixed width. Computed with EXACT integer arithmetic — smallest p
    * with 32·2^p >= n — because the natural-log ratio ceil(ln(n/32)/ln 2)
    * rounds ABOVE the integer at some power-of-two corpus sizes (e.g.
    * n = 32·2^29) while the oracle's CEIL(LOG2(...)) is exact there, so
    * the two engines would build different bucket counts. ceil(log2(n/32))
    * == ceil(log2(ceil(n/32))) for all n, so the integer form matches the
    * oracle everywhere.
    */
  def autoPlanes(n: Long): Int = {
    val q = (n + 31) >> 5 // ceil(n/32)
    val p = if (q <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.max(4, p)
  }

  private def autoPlanesSql: String =
    "GREATEST(4, CAST(CEIL(LOG2(CAST(COUNT(*) AS DOUBLE) / 32.0)) AS BIGINT))"

  /** The sim_knn_graph body over a pre-bucketed relation `e`. */
  private def knnGraphBody(d: Dialect, eRel: String): String = {
    val cos = s"CASE WHEN an * bn > 0 THEN (${F.dot(d, "av", "bv", DIM)}) / (an * bn) ELSE 0.0 END"
    s"""scored AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cos AS score
       |  FROM (SELECT vec_id, embedding AS av, nrm AS an, bkt FROM $eRel) a
       |  JOIN (SELECT vec_id, embedding AS bv, nrm AS bn, bkt FROM $eRel) b
       |    ON a.bkt = b.bkt AND b.vec_id <> a.vec_id),
       |knn AS (SELECT qid, nid, score FROM (
       |    SELECT qid, nid, score,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
       |    FROM scored) r WHERE rnk <= 3)
       |SELECT CAST(x.qid AS BIGINT) AS u, CAST(x.nid AS BIGINT) AS v, x.score
       |FROM knn x JOIN knn y ON x.qid = y.nid AND x.nid = y.qid
       |WHERE x.qid < x.nid""".stripMargin
  }

  /** Mutual k-NN graph under AUTO-SCALED bucketing: same contract as
    * sim_knn_graph, but the bucket count grows with the corpus (constant
    * expected bucket width) — the build stays linear×log instead of
    * quadratic-at-fixed-width. Spark computes the plane count up front
    * (one count job, a literal in the plan — no subquery inside the hash
    * fold); the oracle derives the identical value in SQL and carries it
    * as a joined column.
    */
  private def simKnnGraphAutoDef: QueryDef =
    QueryDef("sim_knn_graph_auto",
      s"""WITH nv AS (SELECT $autoPlanesSql AS planes FROM embeddings),
         |e AS (SELECT vec_id, embedding,
         |    ${F.norm(DuckDialect, "embedding", DIM)} AS nrm,
         |    ${F.lshBucketExpr(DuckDialect, "embedding", DIM, "nv.planes")} AS bkt
         |  FROM embeddings CROSS JOIN nv),
         |${knnGraphBody(DuckDialect, "e")}""".stripMargin) { (s, dir) =>
      graft.functions.VectorExpressions.register(s)
      Stage.tables(s, dir, "embeddings")
      val planes = autoPlanes(s.table("embeddings").count())
      // hash ONCE: the self-join references e twice and the mutuality join
      // references knn twice — inlined CTEs would run the per-row plane
      // fold 4× over the corpus
      Stage.view("graft_knn_auto_e", s.sql(
        s"""SELECT vec_id, embedding,
           |  ${F.norm(SparkDialect, "embedding", DIM)} AS nrm,
           |  ${F.lshBucketExpr(SparkDialect, "embedding", DIM, planes.toString)} AS bkt
           |FROM embeddings""".stripMargin))
      s.sql(s"WITH ${knnGraphBody(SparkDialect, "graft_knn_auto_e")}")
    }

  // ------------------------------------------- graph-based ANN serving
  //
  // TWO-LAYER hierarchical search over a directed kNN graph — the
  // relational analogue of the HNSW/SPANN serving structure: a coarse
  // top layer of ~√n SAMPLED corpus nodes routes each query to entry
  // points (queries exact-score the √n layer nodes — a broadcast-sized
  // model relation — and keep the top-P "cells"), every base vector is
  // OWNED by its nearest layer node (the SPANN posting-list assignment,
  // arXiv:2111.08566 — centroids are real nodes, lists are equi-joinable),
  // the probed cells' members seed the beam, then H rounds of
  // expand-neighbors → exact-score → per-query top-B beam walk the base
  // kNN graph. Every stage is an equi-join or a broadcast join: layer
  // routing is Q×√n, cell probing is P posting lists (~P·√n rows), hops
  // are frontier×edges equi-joins — nothing touches the full corpus per
  // query. The graph build reuses sim_knn_graph's LSH-bucketed candidate
  // contract (directed top-3, then symmetrized).

  private val GsBeam = 8
  private val GsHops = 2

  /** Entry-cell probe budget — how many layer-1 posting lists seed the
    * beam. Fixed P keeps per-query serve cost at ~(1+P)·√n exact scores
    * at ANY corpus size (the SPANN serving shape: sublinear, broadcast
    * model state); a production corpus tunes P against its recall target
    * exactly as IVF tunes nprobe. */
  private val GsProbes = 16

  /** Layer-sampling modulus ceil(√n): nodes with `vec_id % lmod = 0` form
    * the ~√n top layer. IEEE-754 requires sqrt be correctly rounded, so
    * `CEIL(SQRT(n))` is bit-identical in both engines (the float-log2
    * lesson of [[autoPlanes]] does not recur — sqrt is a required exact
    * operation, log2 is not). */
  private def gsLayerMod(n: Long): Long =
    math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)

  private def gsLayerModSql: String =
    "GREATEST(CAST(1 AS BIGINT), CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))"

  /** Second-level thinning factor m2 = ceil(√lmod): l2 = every m2-th l1
    * node, ~n^(1/4) nodes. Same IEEE-exact sqrt discipline as
    * [[gsLayerMod]] — both engines evaluate the identical double chain. */
  private def gsLayerMod2(n: Long): Long =
    math.max(1L, math.ceil(math.sqrt(gsLayerMod(n).toDouble)).toLong)

  private def gsLayerMod2Sql: String =
    s"GREATEST(CAST(1 AS BIGINT), CAST(CEIL(SQRT(CAST($gsLayerModSql AS DOUBLE))) AS BIGINT))"

  // Measured on the synthetic corpus: recall@3 with the single-layer
  // modulus-random entries was 0.067 (coverage-bound: the corpus is
  // planted near-dups over a RANDOM background, within-label mean cos
  // 0.0016, so the kNN graph is structureless and beam navigation cannot
  // recover a bad entry set). The hierarchical layer replaces random
  // entries with the query's P nearest posting lists — DIRECTIONAL,
  // exact-scored coverage. Measured recall@3: 0.97 at sf0.01 (P=16 of
  // ~23 cells ≈ 70% probed — the same probed fraction as IVF-PQ's 3-of-4
  // cells = 75%, which scores 0.27 through 4-code quantized ADC: equal
  // coverage, exact scoring) and 0.73 at sf0.1 (16 of ~45 cells = 36%
  // probed — recall falls sublinearly with the probed fraction because
  // routing is directional, exactly the nprobe trade a production corpus
  // tunes). The recall gate measures this honestly, as sim_ann_recall
  // does for LSH.

  /** Corpus relation with norm + AUTO-SCALED LSH bucket (see
    * [[autoPlanes]]) — `planesExpr` is a literal on the Spark side (one
    * count job up front) and the `nv.planes` column on the oracle side.
    */
  private def gsESelect(d: Dialect, planesExpr: String, fromRel: String): String =
    s"""SELECT vec_id, embedding, ${F.norm(d, "embedding", DIM)} AS nrm,
       |  ${F.lshBucketExpr(d, "embedding", DIM, planesExpr)} AS bkt FROM $fromRel""".stripMargin

  /** Directed top-3 kNN edges within LSH buckets (bucketed-recall contract
    * as in sim_knn_graph, without the mutuality filter — graph-ANN wants
    * out-edges for every node).
    */
  private def gsKnnSelect(d: Dialect, eRel: String): String = {
    val cos = s"CASE WHEN an * bn > 0 THEN (${F.dot(d, "av", "bv", DIM)}) / (an * bn) ELSE 0.0 END"
    s"""SELECT qid, nid FROM (
       |  SELECT qid, nid,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
       |  FROM (SELECT a.vec_id AS qid, b.vec_id AS nid, $cos AS score
       |    FROM (SELECT vec_id, embedding AS av, nrm AS an, bkt FROM $eRel) a
       |    JOIN (SELECT vec_id, embedding AS bv, nrm AS bn, bkt FROM $eRel) b
       |      ON a.bkt = b.bkt AND b.vec_id <> a.vec_id) sc) r
       |WHERE rnk <= 3""".stripMargin
  }

  private def gsEdgesSelect(knnRel: String): String =
    s"""SELECT src, dst FROM (
       |  SELECT qid AS src, nid AS dst FROM $knnRel
       |  UNION
       |  SELECT nid AS src, qid AS dst FROM $knnRel) u""".stripMargin

  private def gsQSelect(eRel: String): String =
    s"SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM $eRel WHERE vec_id % 50 = 0"

  /** The ~√n top layer: sampled corpus nodes, exposed as (cid, cv, cn) —
    * model-sized (broadcast at serve time). `fromExtra` carries the
    * oracle's `nv` cross join so `lmodExpr` can be a column there. */
  private def gsLayerSelect(eRel: String, lmodExpr: String,
      fromExtra: String = ""): String =
    s"""SELECT vec_id AS cid, embedding AS cv, nrm AS cn
       |FROM $eRel$fromExtra WHERE vec_id % $lmodExpr = 0""".stripMargin

  /** Exact cosine of a (vector, norm) pair against a layer node's
    * (cv, cn) — the layer-routing score. */
  private def gsLayerCos(d: Dialect, vCol: String, nCol: String): String =
    s"CASE WHEN $nCol * cn > 0 THEN (${F.dot(d, vCol, "cv", DIM)}) / ($nCol * cn) ELSE 0.0 END"

  /** Route width for the HIERARCHICAL build assignment: each base vector
    * scores the l1 members of its top-[[GsAsgProbes]] l2 cells only.
    * 6 measured at recall parity with the flat assignment on both fixture
    * scales (4 lost ~2 hits of 120 at sf0.1); the width is a constant, so
    * the build stays Θ(n^(5/4)). */
  private val GsAsgProbes = 6

  /** The layer over the layer: every m2-th l1 node. The modulus lmod·m2
    * is a MULTIPLE of lmod, so l2 ⊆ l1 by construction and every l2 node
    * self-routes (cos = 1) — which guarantees every probed cell is
    * non-empty and every base vector gets assigned. ~n^(1/4) nodes. */
  private def gsL2Select(l1Rel: String, lmod2Expr: String,
      fromExtra: String = ""): String =
    s"""SELECT cid AS c2id, cv AS c2v, cn AS c2n
       |FROM $l1Rel$fromExtra WHERE cid % $lmod2Expr = 0""".stripMargin

  private def gsL2Cos(d: Dialect, vCol: String, nCol: String): String =
    s"CASE WHEN $nCol * c2n > 0 THEN (${F.dot(d, vCol, "c2v", DIM)}) / ($nCol * c2n) ELSE 0.0 END"

  /** l1 nodes grouped under their nearest l2 node — |l1|·|l2| ≈ n^(3/4)
    * scored pairs, model-sized output (one row per l1 node). */
  private def gsL1RouteSelect(d: Dialect, l1Rel: String, l2Rel: String): String = {
    val hint = if (d == SparkDialect) "/*+ BROADCAST(t) */ " else ""
    s"""SELECT cid, c2id FROM (
       |  SELECT $hint l.cid, t.c2id,
       |    ROW_NUMBER() OVER (PARTITION BY l.cid
       |      ORDER BY ${gsL2Cos(d, "l.cv", "l.cn")} DESC, t.c2id) AS rn
       |  FROM $l1Rel l CROSS JOIN $l2Rel t) a WHERE rn = 1""".stripMargin
  }

  /** Each base vector's top-[[GsAsgProbes]] l2 cells (n·|l2| ≈ n^(5/4)
    * scored pairs — the first routing hop of the build assignment). */
  private def gsBaseRouteSelect(d: Dialect, eRel: String, l2Rel: String): String = {
    val hint = if (d == SparkDialect) "/*+ BROADCAST(t) */ " else ""
    s"""SELECT vec_id, c2id FROM (
       |  SELECT $hint b.vec_id, t.c2id,
       |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |      ORDER BY ${gsL2Cos(d, "b.embedding", "b.nrm")} DESC, t.c2id) AS rn
       |  FROM $eRel b CROSS JOIN $l2Rel t) a WHERE rn <= $GsAsgProbes""".stripMargin
  }

  /** SPANN-style posting-list assignment, HIERARCHICAL (round-12): every
    * base vector is owned by its nearest layer node AMONG the members of
    * its routed top-[[GsAsgProbes]] l2 cells (ties to the smaller cid) —
    * the SCALE.md-named fix for the flat n·√n build pass that dominated
    * the 100× probe (106.7 s, Θ(n^1.5) total). Per base vector the scored
    * candidates are |l2| + GsAsgProbes·m2 ≈ n^(1/4) instead of √n, so the
    * build is Θ(n^(5/4)). The LAYER relations (lr, l) are model-sized —
    * Spark broadcasts them (hints); the base-route relation (brRel,
    * n·GsAsgProbes rows) is corpus-sized, so re-attaching the corpus
    * vectors IS one large-large equi-join shuffle on vec_id — the win
    * here is fewer scored pairs, not zero corpus shuffle. The n-side
    * COSINE EVALUATION still dominates (measured
    * round-10: a max-join rewrite that avoided the rn=1 window shuffle
    * but scored pairs twice ran 1.7× SLOWER at 100×), so fewer scored
    * pairs is exactly the lever this pulls. Layer nodes still self-assign:
    * a node's own l2 owner is ALSO its top-1 route as a base vector (the
    * same argmax over the same scores), so its own cid is always among
    * the candidates and wins at cos = 1. */
  private def gsAssignHierSelect(d: Dialect, eRel: String, l1Rel: String,
      brRel: String, lrRel: String): String = {
    val hint = if (d == SparkDialect) "/*+ BROADCAST(lr, l) */ " else ""
    s"""SELECT vec_id, cid FROM (
       |  SELECT $hint b.vec_id, lr.cid,
       |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |      ORDER BY ${gsLayerCos(d, "b.embedding", "b.nrm")} DESC, lr.cid) AS rn
       |  FROM $brRel bc
       |  JOIN $lrRel lr ON lr.c2id = bc.c2id
       |  JOIN $l1Rel l ON l.cid = lr.cid
       |  JOIN $eRel b ON b.vec_id = bc.vec_id) a WHERE rn = 1""".stripMargin
  }

  /** Layer routing: each query's top-[[GsProbes]] entry cells by exact
    * cosine against the √n layer nodes (Q×√n broadcast-joined pairs). */
  private def gsQProbeSelect(d: Dialect, qRel: String, lRel: String): String = {
    val hint = if (d == SparkDialect) "/*+ BROADCAST(l) */ " else ""
    s"""SELECT qid, cid FROM (
       |  SELECT $hint q.qid, l.cid,
       |    ROW_NUMBER() OVER (PARTITION BY q.qid
       |      ORDER BY ${gsLayerCos(d, "q.qv", "q.qn")} DESC, l.cid) AS rn
       |  FROM $qRel q CROSS JOIN $lRel l) t WHERE rn <= $GsProbes""".stripMargin
  }

  /** Entry candidates: the probed cells' posting-list members — two
    * equi-joins (query→cell, cell→members), never a corpus scan. */
  private def gsEntryCand(qcRel: String, asgRel: String): String =
    s"""SELECT qc.qid, a.vec_id AS nid FROM $qcRel qc
       |JOIN $asgRel a ON a.cid = qc.cid AND a.vec_id <> qc.qid""".stripMargin

  /** One hop's candidate set: the kept beam plus its out-neighbors. */
  private def gsHopCand(fRel: String, edgesRel: String): String =
    s"""SELECT qid, nid FROM $fRel
       |UNION
       |SELECT f.qid, ed.dst AS nid FROM $fRel f
       |JOIN $edgesRel ed ON f.nid = ed.src AND ed.dst <> f.qid""".stripMargin

  /** THE REFINE PATTERN, rank half (round-9, one implementation for three
    * index families): given a SCORED candidate relation `(qid, nid,
    * scoreCol)`, keep the per-query top-N by `(score, nid)`. Shared by
    * graph-ANN beam scoring (cosine, DESC), IVF-PQ two-stage refine
    * (exact int64 L2, ASC), and matryoshka truncated-dim serving
    * (full-dim cosine re-rank, DESC).
    */
  private[queries] def rankTopN(scoredSel: String, scoreCol: String,
      desc: Boolean, topN: Int, rankCol: String = "rnk"): String = {
    val ord = if (desc) s"$scoreCol DESC" else scoreCol
    s"""SELECT qid, nid, $scoreCol, $rankCol FROM (
       |  SELECT qid, nid, $scoreCol,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY $ord, nid) AS $rankCol
       |  FROM ($scoredSel) sc) r
       |WHERE $rankCol <= $topN""".stripMargin
  }

  /** The refine pattern, scoring half: exact cosine over a (qid, nid)
    * shortlist via two id equi-joins against the query and corpus vector
    * relations — never the corpus (cost = |shortlist| × dim). `qRel` must
    * expose (qid, qv, qn), `eRel` (vec_id, embedding, nrm).
    */
  private[queries] def cosScoredSel(d: Dialect, candSel: String, qRel: String,
      eRel: String, dim: Int = DIM): String = {
    val cos = s"CASE WHEN qn * en > 0 THEN (${F.dot(d, "qv", "ev", dim)}) / (qn * en) ELSE 0.0 END"
    s"""SELECT c.qid, c.nid, $cos AS score
       |FROM ($candSel) c
       |JOIN (SELECT qid AS jqid, qv, qn FROM $qRel) jq ON jq.jqid = c.qid
       |JOIN (SELECT vec_id, embedding AS ev, nrm AS en FROM $eRel) je
       |  ON je.vec_id = c.nid""".stripMargin
  }

  /** Exact-score a (qid, nid) candidate relation and keep the per-query
    * top-N beam — the refine pattern at cosine/DESC.
    */
  private def gsScoreTop(d: Dialect, candSel: String, qRel: String,
      eRel: String, topN: Int): String =
    rankTopN(cosScoredSel(d, candSel, qRel, eRel), "score", desc = true, topN)

  /** Oracle: the whole search as one CTE chain (DuckDB shares CTEs; the
    * Spark side runs [[gsSparkSearch]] — the same stage SQL, one
    * [[Stage.view]] per stage, BPE-trainer precedent).
    */
  private def gsOracleSql(d: Dialect): String = {
    val hops = (1 to GsHops).map { h =>
      s"""f$h AS (${gsScoreTop(d, gsHopCand(s"f${h - 1}", "edges"), "q", "e", GsBeam)})"""
    }.mkString(",\n")
    s"""WITH nv AS (SELECT $autoPlanesSql AS planes, $gsLayerModSql AS lmod,
       |  $gsLayerMod2Sql AS m2
       |  FROM embeddings),
       |e AS (${gsESelect(d, "nv.planes", "embeddings CROSS JOIN nv")}),
       |knn AS (${gsKnnSelect(d, "e")}),
       |edges AS (${gsEdgesSelect("knn")}),
       |q AS (${gsQSelect("e")}),
       |l1 AS (${gsLayerSelect("e", "nv.lmod", " CROSS JOIN nv")}),
       |l2 AS (${gsL2Select("l1", "(nv.lmod * nv.m2)", " CROSS JOIN nv")}),
       |l1r AS (${gsL1RouteSelect(d, "l1", "l2")}),
       |basr AS (${gsBaseRouteSelect(d, "e", "l2")}),
       |asg AS (${gsAssignHierSelect(d, "e", "l1", "basr", "l1r")}),
       |qc AS (${gsQProbeSelect(d, "q", "l1")}),
       |f0 AS (${gsScoreTop(d, gsEntryCand("qc", "asg"), "q", "e", GsBeam)}),
       |$hops
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid, score,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM f$GsHops WHERE rnk <= 3""".stripMargin
  }

  private def gsSparkSearch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    Stage.tables(s, dir, "embeddings")
    val n = s.table("embeddings").count()
    val planes = autoPlanes(n)
    Stage.view("graft_gs_e", s.sql(gsESelect(SparkDialect, planes.toString, "embeddings")))
    Stage.view("graft_gs_knn", s.sql(gsKnnSelect(SparkDialect, "graft_gs_e")))
    Stage.view("graft_gs_edges", s.sql(gsEdgesSelect("graft_gs_knn")))
    s.sql(gsQSelect("graft_gs_e")).createOrReplaceTempView("graft_gs_q")
    // the hierarchy: √n layer (model-sized, checkpointed so the broadcast
    // reuses one materialization), posting-list assignment, query routing
    Stage.view("graft_gs_l1", s.sql(gsLayerSelect("graft_gs_e", gsLayerMod(n).toString)))
    Stage.view("graft_gs_l2",
      s.sql(gsL2Select("graft_gs_l1", (gsLayerMod(n) * gsLayerMod2(n)).toString)))
    Stage.view("graft_gs_l1r", s.sql(gsL1RouteSelect(SparkDialect, "graft_gs_l1", "graft_gs_l2")))
    Stage.view("graft_gs_basr",
      s.sql(gsBaseRouteSelect(SparkDialect, "graft_gs_e", "graft_gs_l2")))
    Stage.view("graft_gs_asg", s.sql(gsAssignHierSelect(SparkDialect, "graft_gs_e", "graft_gs_l1",
        "graft_gs_basr", "graft_gs_l1r")))
    Stage.view("graft_gs_qc", s.sql(gsQProbeSelect(SparkDialect, "graft_gs_q", "graft_gs_l1")))
    // each hop reads the previous frontier as graft_gs_f
    var frontier = Stage.view("graft_gs_f", s.sql(gsScoreTop(SparkDialect,
        gsEntryCand("graft_gs_qc", "graft_gs_asg"),
        "graft_gs_q", "graft_gs_e", GsBeam)))
    for (_ <- 1 to GsHops)
      frontier = Stage.view("graft_gs_f", s.sql(gsScoreTop(SparkDialect,
          gsHopCand("graft_gs_f", "graft_gs_edges"),
          "graft_gs_q", "graft_gs_e", GsBeam)))
    frontier
  }

  private def simGraphSearchDef: QueryDef =
    QueryDef("sim_graph_search", gsOracleSql(DuckDialect)) { (s, dir) =>
      gsSparkSearch(s, dir).where(s"rnk <= 3").selectExpr(
        "CAST(qid AS BIGINT) AS qid", "CAST(nid AS BIGINT) AS nid",
        "score", "CAST(rnk AS BIGINT) AS rnk")
    }

  /** Recall@3 of the graph search against the exact top-3 (EVAL gate — the
    * brute-force ground truth is deliberate, as in sim_ann_recall).
    */
  private def simGraphSearchRecallDef: QueryDef =
    QueryDef("sim_graph_search_recall",
      s"""WITH bf AS (${bruteForceTopkSql(DuckDialect, 50, 3)}),
         |gs AS (${gsOracleSql(DuckDialect)})
         |SELECT bf.qid, CAST(COUNT(gs.nid) AS BIGINT) AS hits,
         |  CAST(COUNT(gs.nid) AS DOUBLE) / 3.0 AS recall_at_3
         |FROM bf LEFT JOIN gs ON bf.qid = gs.qid AND bf.nid = gs.nid
         |GROUP BY bf.qid""".stripMargin) { (s, dir) =>
      gsSparkSearch(s, dir).where("rnk <= 3")
        .createOrReplaceTempView("graft_gs_res")
      s.sql(
        s"""WITH bf AS (${bruteForceTopkSql(SparkDialect, 50, 3)})
           |SELECT bf.qid, CAST(COUNT(g.nid) AS BIGINT) AS hits,
           |  CAST(COUNT(g.nid) AS DOUBLE) / 3.0 AS recall_at_3
           |FROM bf LEFT JOIN graft_gs_res g
           |  ON bf.qid = g.qid AND bf.nid = g.nid
           |GROUP BY bf.qid""".stripMargin)
    }

  /** Embedding-cosine near-dup pairs with metadata BLOCKING and a hot-block
    * GUARD: candidate pairs only within the same `label` block (at 100 TB,
    * blocking keys — source, shard, cluster id — bound the pair space), and
    * blocks larger than [[BlockCap]] rows are further split by a 4-plane LSH
    * sub-bucket, so no block ever goes all-pairs unbounded — within-block
    * expansion is O((n/16)² × 16), not O(n²), on hot labels. Sub-bucketing
    * is part of the operator contract (the oracle replicates it), and the
    * CASE evaluates the LSH fold only for rows in oversized blocks.
    * Threshold 0.3 on this near-orthogonal synthetic corpus.
    */
  private val BlockCap = 100

  private def dedupEmbeddingCosine(d: Dialect): String =
    embeddingCosineSql(d, scored = true)

  private def embeddingCosineSql(d: Dialect, scored: Boolean): String = {
    // zero-norm guard as in bruteForceTopkSql
    val cos = s"CASE WHEN x.nrm * y.nrm > 0 THEN (${F.dot(d, "x.embedding", "y.embedding", DIM)}) / (x.nrm * y.nrm) ELSE 0.0 END"
    val sub = F.lshBucket(d, "embedding", DIM, 4)
    val base =
      s"""WITH en AS (SELECT vec_id, embedding, label,
         |    ${F.norm(d, "embedding", DIM)} AS nrm FROM embeddings),
         |bs AS (SELECT label, COUNT(*) AS bn FROM en GROUP BY label),
         |eb AS (SELECT en.vec_id, en.embedding, en.label, en.nrm,
         |    CASE WHEN bs.bn > $BlockCap THEN $sub ELSE CAST(0 AS BIGINT) END AS sub
         |  FROM en JOIN bs ON en.label = bs.label)
         |""".stripMargin
    if (scored)
      base +
        s"""SELECT * FROM (
           |  SELECT CAST(x.vec_id AS BIGINT) AS a, CAST(y.vec_id AS BIGINT) AS b,
           |    CAST(x.label AS INTEGER) AS label, $cos AS score
           |  FROM eb x JOIN eb y
           |    ON x.label = y.label AND x.sub = y.sub AND x.vec_id < y.vec_id) s
           |WHERE score >= 0.3""".stripMargin
    else
      base +
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
          |FROM eb x JOIN eb y
          |  ON x.label = y.label AND x.sub = y.sub AND x.vec_id < y.vec_id""".stripMargin
  }

  /** Candidate-count form of the blocked cosine join (Spark dialect), for
    * the bounded-expansion spec.
    */
  def debugEmbeddingCandidateCountSql: String =
    embeddingCosineSql(SparkDialect, scored = false)

  /** SEMANTIC decontamination — the embedding-space twin of
    * corpus_decontaminate: lexical n-gram overlap misses paraphrased or
    * translated eval leakage, so production corpora ALSO flag training
    * items whose embedding sits too close to any eval item (the SemDeDup
    * observation applied at the train/eval boundary). Eval split =
    * vec_id % 20 = 0 (the lexical gate's convention); candidate pairs are
    * LSH-bucket-blocked (never all-pairs — the sim_ann_lsh invariant), and
    * a training vector is contaminated iff some same-bucket eval vector
    * has cosine >= 0.3. Output: per training vector, the eval-hit count,
    * the max offending cosine (NULL when clean), and the keep verdict.
    * 100 TB shape: the eval side is benchmark-sized (broadcast); the train
    * side's bucket hash is map-side; the join is a broadcast equi-join on
    * the bucket key — one pass over the corpus. */
  private[queries] def semanticDecontaminate(d: Dialect): String = {
    val cos = s"CASE WHEN tr.nrm * ev.nrm > 0 THEN (${F.dot(d, "tr.embedding", "ev.embedding", DIM)}) / (tr.nrm * ev.nrm) ELSE 0.0 END"
    s"""WITH en AS (SELECT vec_id, embedding,
       |    ${F.norm(d, "embedding", DIM)} AS nrm,
       |    ${F.lshBucket(d, "embedding", DIM, 8)} AS bkt FROM embeddings),
       |ev AS (SELECT * FROM en WHERE vec_id % 20 = 0),
       |tr AS (SELECT * FROM en WHERE vec_id % 20 <> 0),
       |pairs AS (SELECT tr.vec_id, $cos AS score
       |  FROM tr JOIN ev ON tr.bkt = ev.bkt),
       |hits AS (SELECT vec_id, COUNT(*) AS n_hits, MAX(score) AS max_score
       |  FROM pairs WHERE score >= 0.3 GROUP BY vec_id)
       |SELECT CAST(t.vec_id AS BIGINT) AS vec_id,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_eval_hits,
       |  h.max_score AS max_eval_cos,
       |  CAST(CASE WHEN h.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM tr t LEFT JOIN hits h ON t.vec_id = h.vec_id""".stripMargin
  }

  /** IVF ANN through the gate: with nprobe = k the probe set covers every
    * cell, so the result is EXACTLY the brute-force top-k — which is the
    * oracle (the coarse quantizer affects only which cells are skipped,
    * and none are). Training runs the deterministic k-means on executors;
    * scores come from the same graft_dot arithmetic as the oracle's fold.
    */
  /** Symmetric int8 quantization of the embedding corpus (the standard
    * storage/serving compression for ANN indexes: 4x smaller, SIMD-friendly
    * dot products): per-vector absmax scaling, `q_i = round(127 * x_i /
    * absmax)`, emitted with the dequantization scale. Zero vectors quantize
    * to all-zero with scale 0.
    *
    * Cross-engine float discipline: absmax is a defined-order fold over
    * exact double widenings of the floats; `127 * x / absmax` is two
    * correctly-rounded IEEE double ops; both engines' ROUND on double is
    * half-away-from-zero — every lane is bit-identical by construction.
    * Scale shape: pure per-row scalar work, map-only, no shuffle at all.
    */
  /** Shared CTE body: per-vector absmax + the int8 lane array `qv` and
    * dequantization `scale` (see [[embQuantize]] for the float discipline).
    */
  private[queries] def quantCte(d: Dialect, src: String = "embeddings"): String = d match {
    case SparkDialect =>
      // Direct array-lambda form: transform/aggregate over the embedding
      // array itself. Same arithmetic as the index form below, same element
      // order (array order), but ~14× faster in Spark — the seq +
      // element_at formulation paid an interpreted element_at per lane per
      // row (measured 1.9s vs 0.14s for the quantize scan at sf0.1).
      val absFold = "aggregate(transform(embedding, e -> ABS(CAST(e AS DOUBLE)))," +
        " CAST(0 AS DOUBLE), (acc, x) -> CASE WHEN x > acc THEN x ELSE acc END)"
      val lanes = "transform(embedding, e -> CAST(CASE WHEN amax = 0 THEN 0 ELSE " +
        "ROUND(CAST(e AS DOUBLE) * 127.0 / amax) END AS INTEGER))"
      s"""a AS (SELECT vec_id, embedding, $absFold AS amax FROM $src),
         |qz AS (SELECT vec_id, amax / 127.0 AS scale, $lanes AS qv FROM a)""".stripMargin
    case _ =>
      val absFold = d.reduce(
        d.transform(d.seq("1", DIM.toString), "i",
          s"ABS(CAST(${d.elem("embedding", "i")} AS DOUBLE))"),
        "CAST(0 AS DOUBLE)", "acc", "x", "CASE WHEN x > acc THEN x ELSE acc END")
      val lane = s"CAST(CASE WHEN amax = 0 THEN 0 ELSE " +
        s"ROUND(CAST(${d.elem("embedding", "i")} AS DOUBLE) * 127.0 / amax) END AS INTEGER)"
      s"""a AS (SELECT vec_id, embedding, $absFold AS amax FROM $src),
         |qz AS (SELECT vec_id, amax / 127.0 AS scale,
         |  ${d.transform(d.seq("1", DIM.toString), "i", lane)} AS qv FROM a)""".stripMargin
  }

  /** Top principal direction by 3 power-method iterations in EXACT int64
    * arithmetic — the distributed-linear-algebra shape (matvec = join +
    * groupBy) with cross-engine bit-identical results. The embedding is
    * int8-quantized (see [[quantCte]]), exploded to (vec_id, i, x) rows, and
    * each iteration computes dt = X·v (group by vec_id), w = Xᵀ·dt (group by
    * i), then renormalizes to max |v| = 4096 with TRUNCATING integer
    * division `(a - a%m) div m` — floor-vs-trunc `div` semantics differ
    * between engines on negatives, but both `%` are C-style, making this
    * form portable-exact. Overflow bound: |v|≤2^12 ⇒ |dt|≤2^25, |w|≤n·2^32,
    * |w·4096|≤n·2^44 — safe in int64 to n = 2^18 rows (≈ sf5); beyond that,
    * shrink the normalization base. Scale shape: two shuffles per iteration
    * on (vec_id)/(i); the only scalar is MAX|w| — a broadcastable
    * aggregate, never driver state. Sign/direction is deterministic from
    * the all-ones start vector.
    */
  private def embPcaPower(d: Dialect): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    val xRows =
      if (d == SparkDialect)
        "SELECT vec_id, posexplode(qv) AS (i, x) FROM qz"
      else
        "SELECT vec_id, unnest(qv) AS x, unnest(range(len(qv))) AS i FROM qz"
    val ones =
      if (d == SparkDialect)
        "SELECT explode(sequence(0, 63)) AS i, CAST(1 AS BIGINT) AS v"
      else
        "SELECT unnest(range(64)) AS i, CAST(1 AS BIGINT) AS v"
    def iter(k: Int, prev: String): String =
      s"""d$k AS (SELECT vec_id, CAST(SUM(CAST(x.x AS BIGINT) * v.v) AS BIGINT) AS dt
         |  FROM x JOIN $prev v USING(i) GROUP BY vec_id),
         |w$k AS (SELECT i, CAST(SUM(d$k.dt * x.x) AS BIGINT) AS w
         |  FROM x JOIN d$k USING(vec_id) GROUP BY i),
         |v$k AS (SELECT i, CASE WHEN mm.m = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (w*4096 - ((w*4096) % mm.m)) $idiv mm.m END AS v
         |  FROM w$k, (SELECT MAX(ABS(w)) AS m FROM w$k) mm)""".stripMargin
    s"""WITH ${quantCte(d)},
       |x AS ($xRows),
       |v0 AS ($ones),
       |${iter(1, "v0")},
       |${iter(2, "v1")},
       |${iter(3, "v2")}
       |SELECT CAST(i AS BIGINT) AS i, v FROM v3""".stripMargin
  }

  /** Spark-side PCA gate: SAME arithmetic as [[embPcaPower]]'s SQL, but
    * iterated imperatively with materialization boundaries. The one-shot
    * CTE form is fine for DuckDB (CTEs evaluate once there) but Catalyst
    * INLINES multi-reference CTEs: each v_k references w_k twice (the rows
    * and the MAX|w| scalar), w_k re-reads x, so the inlined plan re-derives
    * the quantized matrix ~2^k times — the 4s the round-5 verdict flagged.
    * Here: the exploded int8 matrix `x` is checkpointed ONCE (the matvec
    * operand a distributed engine would keep materialized), and each
    * iteration's 64-row direction vector is checkpointed — O(1) plans,
    * every stage computed exactly once, two shuffles per iteration
    * (group-by vec_id, group-by i) exactly as the scale note promises.
    */
  private def embPcaPowerSpark(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    Stage.tables(s, dir, "embeddings")
    val d = SparkDialect
    // Materialize qz BEFORE exploding: with the explode stacked directly
    // on the quantize projection, CollapseProject inlines the amax
    // aggregate fold into every lane of the lane transform (it appears in
    // both the CASE condition and the divisor), turning the scan into
    // O(DIM²) folds per row — measured 1.4s vs 0.2s for the qz scan alone.
    Stage.view("graft_pca_qz", s.sql(s"WITH ${quantCte(d)} SELECT vec_id, qv FROM qz"))
    val x = Stage.view("graft_pca_x",
      s.sql("SELECT vec_id, posexplode(qv) AS (i, x) FROM graft_pca_qz"))
    // The direction vector is DIM-sized MODEL STATE (the IVF-centroid
    // precedent): collect the 64-row w aggregate per iteration and
    // normalize on the driver with the IDENTICAL truncating int64
    // arithmetic (Scala Long `/` truncates toward zero and `%` is C-style,
    // exactly the SQL `div`/`%` pair) — one Spark job per iteration
    // instead of three checkpoint jobs, same bits.
    import s.implicits._
    var v: Seq[(Int, Long)] = (0 until DIM).map(i => (i, 1L))
    (1 to 3).foreach { _ =>
      v.toDF("i", "v").createOrReplaceTempView("graft_pca_v")
      val w = s.sql(
        """WITH d AS (SELECT vec_id, CAST(SUM(CAST(x.x AS BIGINT) * v.v) AS BIGINT) AS dt
          |  FROM graft_pca_x x JOIN graft_pca_v v USING(i) GROUP BY vec_id)
          |SELECT i, CAST(SUM(d.dt * x.x) AS BIGINT) AS w
          |  FROM graft_pca_x x JOIN d USING(vec_id) GROUP BY i""".stripMargin)
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      val m = if (w.isEmpty) 0L else w.map(p => math.abs(p._2)).max
      v = w.toSeq.map { case (i, wi) =>
        (i, if (m == 0) 0L else (wi * 4096L) / m)
      }
    }
    v.toDF("i", "v").selectExpr("CAST(i AS BIGINT) AS i", "v")
  }

  private def embQuantize(d: Dialect): String =
    s"""WITH ${quantCte(d)}
       |SELECT vec_id, scale,
       |  ${d.joinWs(d.transform("qv", "x", "CAST(x AS STRING)"))} AS qvec
       |FROM qz""".stripMargin

  /** Top-k similarity over the QUANTIZED corpus — the serving-side
    * counterpart of [[embQuantize]]: score = dequantized dot product
    * `dot(qa, qb) * scale_a * scale_b`. The int8 lanes are exactly
    * representable as floats, so the dot reuses the native codegen'd
    * `graft_dot` expression (Spark) / the defined-order fold (DuckDB) and
    * every score is bit-identical across engines — integer products summed
    * left-to-right, two correctly-rounded double multiplies.
    *
    * Scale shape: same as the float brute force (the deliberate exactness
    * baseline); the production path composes quantization WITH the LSH/IVF
    * bucketing, which cuts candidates, not this scoring.
    */
  private def simTopkQuantized(d: Dialect): String = {
    val toF = (a: String) => d.transform(a, "x", "CAST(x AS FLOAT)")
    s"""WITH ${quantCte(d)},
       |qf AS (SELECT vec_id, scale, ${toF("qv")} AS fv FROM qz),
       |q AS (SELECT vec_id AS qid, fv AS qa, scale AS sa FROM qf
       |  WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT qid, e.vec_id AS nid,
       |    ((${F.dot(d, "qa", "ev", DIM)}) * sa) * e.sb AS score
       |  FROM q CROSS JOIN (SELECT vec_id, fv AS ev, scale AS sb FROM qf) e
       |  WHERE e.vec_id <> qid)
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid, score,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM (SELECT qid, nid, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
       |  FROM scored) s
       |WHERE rnk <= 5""".stripMargin
  }

  /** Lloyd k-means (K=4 centroids, 2 unrolled iterations) over the
    * int8-quantized embeddings in EXACT int64 arithmetic — the clustering
    * step of a semantic-dedup / corpus-organization pipeline (cluster,
    * then dedup or sample within clusters), cross-engine bit-identical.
    *
    * Arithmetic: lanes live in milli-units (x*1000 ∈ [-127000, 127000]);
    * centroid lanes are the truncating integer mean `(s*1000 - (s*1000 %
    * n)) div n` (trunc-vs-floor `div` differs between engines on
    * negatives, but both `%` are C-style, making this form
    * portable-exact — the [[embPcaPower]] precedent). Squared-L2 bound:
    * diff ≤ 254000 → diff² ≤ 6.5e10 → ×64 lanes ≤ 4.2e12, int64-safe.
    * Seeds = the K lowest vec_ids (deterministic); argmin tie-break is
    * (dist, cid); a cluster that empties vanishes from the next round's
    * centroid set (remaining clusters absorb its points) — deterministic
    * either way.
    *
    * Scale shape: the centroid relation is K×DIM rows (model state) — the
    * assignment join broadcasts it, the per-(vec,cid) lane sum is a
    * map-side-partial aggregate, and each iteration adds one (cid, i)
    * shuffle bounded by K×DIM groups. The production assignment pass at
    * 100 TB is the codegen'd broadcast argmin
    * ([[graft.functions.CentroidArgminExpr]], the IVF path); this SQL form
    * is the oracle-exact training recurrence — same join shape Spark
    * plans as a broadcast hash join here.
    */
  private[queries] val KM = 4

  /** The k-means CTE chain over an existing exploded (vec_id, i, x)
    * relation `xRef` (x = int8 lane). Shared verbatim by the DuckDB oracle
    * and the Spark gate (which materializes `x` once first — Catalyst
    * inlines multi-reference CTEs, and `x` is referenced by every assign
    * and recompute stage).
    */
  /** The Lloyd CTE chain alone (c0 → a1 → c2 → a2) — reused by
    * [[embKmeansLloyd]] and, as the LEARNED blocking key, by the semantic
    * dedup gate (`a2` = final per-vector cluster assignments).
    */
  private def kmeansCtes(d: Dialect, xRef: String): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    def assign(k: Int, c: String): String =
      s"""d$k AS (SELECT x.vec_id, c.cid,
         |    CAST(SUM((x.x*1000 - c.c)*(x.x*1000 - c.c)) AS BIGINT) AS dist
         |  FROM $xRef x JOIN $c c ON x.i = c.i GROUP BY x.vec_id, c.cid),
         |a$k AS (SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d$k) r WHERE rn = 1)""".stripMargin
    def recompute(k: Int): String =
      s"""c${k} AS (SELECT a.cid, x.i,
         |    (CAST(SUM(x.x) AS BIGINT)*1000
         |      - ((CAST(SUM(x.x) AS BIGINT)*1000) % COUNT(*))) $idiv COUNT(*) AS c
         |  FROM $xRef x JOIN a${k - 1} a ON x.vec_id = a.vec_id
         |  GROUP BY a.cid, x.i)""".stripMargin
    s"""c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, i,
       |    CAST(x*1000 AS BIGINT) AS c
       |  FROM $xRef WHERE vec_id < $KM),
       |${assign(1, "c0")},
       |${recompute(2)},
       |${assign(2, "c2")}""".stripMargin
  }

  private def kmeansBodySql(d: Dialect, xRef: String): String =
    s"""${kmeansCtes(d, xRef)}
       |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cid AS BIGINT) AS cluster,
       |  dist AS dist2
       |FROM a2""".stripMargin

  private def embKmeansLloyd: QueryDef = {
    val dd = DuckDialect
    val duckX =
      "SELECT vec_id, unnest(qv) AS x, unnest(range(len(qv))) AS i FROM qz"
    QueryDef("emb_kmeans_lloyd",
      s"""WITH ${quantCte(dd)},
         |x AS ($duckX),
         |${kmeansBodySql(dd, "x")}""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "embeddings")
      val d = SparkDialect
      // materialize qz before exploding (CollapseProject would inline the
      // absmax fold into every lane — the embPcaPowerSpark lesson), then
      // the exploded lane matrix once (referenced by all 4 stages)
      Stage.view("graft_km_qz", s.sql(s"WITH ${quantCte(d)} SELECT vec_id, qv FROM qz"))
      Stage.view("graft_km_x", s.sql("SELECT vec_id, posexplode(qv) AS (i, x) FROM graft_km_qz"))
      s.sql(s"WITH ${kmeansBodySql(d, "graft_km_x")}")
    }
  }

  /** SEMANTIC DEDUP (round-9, SemDeDup-shaped — Abbas et al.,
    * arXiv:2303.09540): the LEARNED k-means cluster id is the BLOCKING KEY
    * for embedding-cosine near-dup pruning — cluster the corpus with the
    * emb_kmeans_lloyd Lloyd chain (bit-exact in both engines), then within
    * each cluster (sub-bucketed above [[BlockCap]] rows, the
    * dedup_embedding_cosine hot-block guard) mark every vector with cosine
    * >= 0.3 to a LOWER-id vector in its block; one verdict row per vector.
    * The first gate where a trained model's output feeds a dedup operator
    * as input. 100 TB shape: cluster assignment is a broadcast-centroid
    * pass; pair generation is a (cluster, sub)-key equi-join — no block
    * goes all-pairs unbounded; the final verdict is one left join on
    * vec_id.
    */
  private def dedupSemanticSql(d: Dialect, xRef: String): String = {
    val cos = s"CASE WHEN x.nrm * y.nrm > 0 THEN (${F.dot(d, "x.embedding", "y.embedding", DIM)}) / (x.nrm * y.nrm) ELSE 0.0 END"
    val sub = F.lshBucket(d, "embedding", DIM, 4)
    s"""${kmeansCtes(d, xRef)},
       |en AS (SELECT vec_id, embedding, ${F.norm(d, "embedding", DIM)} AS nrm
       |  FROM embeddings),
       |ec AS (SELECT en.vec_id, en.embedding, en.nrm, a.cid AS cluster
       |  FROM en JOIN a2 a ON a.vec_id = en.vec_id),
       |bs AS (SELECT cluster, COUNT(*) AS bn FROM ec GROUP BY cluster),
       |eb AS (SELECT ec.vec_id, ec.embedding, ec.nrm, ec.cluster,
       |    CASE WHEN bs.bn > $BlockCap THEN $sub ELSE CAST(0 AS BIGINT) END AS sub
       |  FROM ec JOIN bs ON ec.cluster = bs.cluster),
       |dups AS (SELECT DISTINCT y.vec_id FROM eb x JOIN eb y
       |  ON x.cluster = y.cluster AND x.sub = y.sub AND x.vec_id < y.vec_id
       |  WHERE $cos >= 0.3)
       |SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       |  CAST(e.cluster AS BIGINT) AS cluster,
       |  CAST(CASE WHEN dp.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
       |FROM ec e LEFT JOIN dups dp ON dp.vec_id = e.vec_id""".stripMargin
  }

  /** CLUSTER-BALANCED SAMPLING (round-9): keep up to 32 vectors per
    * LEARNED kmeans cluster in deterministic multiplicative-hash order —
    * the diversity-preserving selection step that follows semantic dedup
    * in a curation pipeline (cap each semantic REGION, where
    * corpus_temperature_sample caps each source). 100 TB shape: one
    * broadcast-assign pass + one window partitioned by cluster id —
    * a single hash exchange on the cluster key.
    */
  private def embClusterSample(d: Dialect, xRef: String): String =
    s"""${kmeansCtes(d, xRef)},
       |ranked AS (SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY cid
       |      ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS rn
       |  FROM a2)
       |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cid AS BIGINT) AS cluster,
       |  CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= 32""".stripMargin

  private def embClusterSampleDef: QueryDef =
    QueryDef("emb_cluster_sample",
      s"""WITH ${quantCte(DuckDialect)},
         |x AS ($duckPqX),
         |${embClusterSample(DuckDialect, "x")}""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "embeddings")
      Stage.view("graft_cs_qz", s.sql(s"WITH ${quantCte(SparkDialect)} SELECT vec_id, qv FROM qz"))
      Stage.view("graft_cs_x", s.sql("SELECT vec_id, posexplode(qv) AS (i, x) FROM graft_cs_qz"))
      s.sql(s"WITH ${embClusterSample(SparkDialect, "graft_cs_x")}")
    }

  private def dedupSemanticDef: QueryDef =
    QueryDef("dedup_semantic",
      s"""WITH ${quantCte(DuckDialect)},
         |x AS ($duckPqX),
         |${dedupSemanticSql(DuckDialect, "x")}""".stripMargin) { (s, dir) =>
      graft.functions.VectorExpressions.register(s)
      Stage.tables(s, dir, "embeddings")
      // materialize the quantized lane matrix once (the embKmeansLloyd
      // lesson: it feeds every assign/recompute stage)
      Stage.view("graft_sd_qz", s.sql(s"WITH ${quantCte(SparkDialect)} SELECT vec_id, qv FROM qz"))
      Stage.view("graft_sd_x", s.sql("SELECT vec_id, posexplode(qv) AS (i, x) FROM graft_sd_qz"))
      s.sql(s"WITH ${dedupSemanticSql(SparkDialect, "graft_sd_x")}")
    }

  private def simIvfExhaustive: QueryDef = {
    val d = DuckDialect
    val cos = s"(${F.dot(d, "qv", "ev", DIM)}) / (qn * en)"
    QueryDef("sim_ivf_exhaustive",
      bruteForceTopkSql(DuckDialect, 100, 5)) { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.operators.Ivf.train(emb, k = 8, iters = 3)
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Ivf.search(emb, model, queries, nprobe = 8, topk = 5)
        .withColumn("rnk", org.apache.spark.sql.functions.col("rnk").cast("long"))
    }
  }

  /** Subspace k-means CTE chain for product quantization — the
    * [[kmeansBodySql]] recurrence generalized with a subspace key
    * `m = lane div subDim`: centroids are keyed (m, cid, i), assignments
    * (vec_id, m) → cid, and `subDim = DIM` degrades to ONE subspace — the
    * coarse quantizer and the PQ codebooks are the same chain at different
    * granularity. Same exact int64 arithmetic (milli-unit lanes, truncating
    * integer centroid means, (dist, cid) argmin tie-break): bit-identical
    * across engines. Emits `${p}c2` (trained centroids) and `${p}a2`
    * (final assignments / codes); 2 Lloyd iterations, seeds = the k lowest
    * vec_ids.
    */
  /** One argmin-assignment step of the subspace k-means: per (vector,
    * subspace), the nearest centroid of `cTable` by exact int64 squared
    * L2 over milli-unit lanes, (dist, cid) tie-break. `scale` converts the
    * input lanes to milli-units (1000 for raw int8 lanes; 1 when the input
    * relation is ALREADY milli-unit, e.g. residuals against a milli-unit
    * centroid). */
  private[queries] def pqAssignCtes(d: Dialect, xRef: String, p: String, step: Int,
      cTable: String, scale: Int = 1000): String =
    s"""${p}d$step AS (SELECT ${bc(d, "c")}x.vec_id, c.m, c.cid,
       |    CAST(SUM((x.x*$scale - c.c)*(x.x*$scale - c.c)) AS BIGINT) AS dist
       |  FROM $xRef x JOIN $cTable c ON x.i = c.i GROUP BY x.vec_id, c.m, c.cid),
       |${p}a$step AS (SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
       |    FROM ${p}d$step) r WHERE rn = 1)""".stripMargin

  /** Spark-only BROADCAST hint over MODEL-SIZED relations (round-14, guide
    * §3.1): every assign/probe/ADC join in the IVF-PQ chains pairs the
    * corpus lane matrix with a model relation (centroids, codebooks, probe
    * sets, LUTs — k·DIM-row state by construction). Spark cannot estimate
    * their size through the aggregate chains and plans sort-merge joins,
    * exchanging the CORPUS side; the hint pins the build side. Combined
    * with the runners' one-time `repartition(vec_id)` of the lane matrix,
    * every downstream GROUP BY / window keyed by vec_id then reuses that
    * single exchange (guide §2.4 "two operations keyed the same way can
    * share one exchange"). DuckDB needs no hint: empty there, so the
    * declared oracle text is unchanged. */
  private def bc(d: Dialect, rels: String): String =
    if (d == SparkDialect) s"/*+ BROADCAST($rels) */ " else ""

  /** The TRAINING front of the subspace k-means chain (seeds → assign →
    * recompute), ending at the `${p}c2` centroid relation. This chain is
    * LINEAR (each CTE referenced once; only the checkpointed lane view is
    * re-scanned), so it is safe to inline. The multi-referenced MODEL
    * relations downstream of it are a different story: Catalyst inlines
    * those per reference (sim_ivf_pq_residual's one-shot plan measured
    * 1220 Exchanges at sf0.1), which is why [[ivf2ModelViews]] /
    * [[pqModelViews]] materialize them once on the Spark side (round-13;
    * an earlier round-12 experiment that checkpointed ONLY the two c2
    * relations, leaving the rest inline, was slower at the 10× probe).
    */
  private[queries] def pqTrainCtes(d: Dialect, xRef: String, p: String,
      subDim: Int, k: Int): String = pqTrainCtes(d, xRef, p, subDim, k.toString)

  /** String-`k` form: the seed count may be a SQL expression (the oracle's
    * scalar subquery over the auto-K `nv` CTE) instead of a literal. */
  private[queries] def pqTrainCtes(d: Dialect, xRef: String, p: String,
      subDim: Int, k: String, scale: Int = 1000): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""${p}c0 AS (SELECT vec_id AS cid, i $idiv $subDim AS m, i,
       |    CAST(x*$scale AS BIGINT) AS c
       |  FROM $xRef WHERE vec_id < $k),
       |${pqAssignCtes(d, xRef, p, 1, p + "c0", scale)},
       |${p}c2 AS (SELECT a.cid, a.m, x.i,
       |    (CAST(SUM(x.x) AS BIGINT)*$scale
       |      - ((CAST(SUM(x.x) AS BIGINT)*$scale) % COUNT(*))) $idiv COUNT(*) AS c
       |  FROM $xRef x JOIN ${p}a1 a
       |    ON x.vec_id = a.vec_id AND x.i $idiv $subDim = a.m
       |  GROUP BY a.cid, a.m, x.i)""".stripMargin
  }

  /** IVF-PQ with asymmetric-distance scoring, the operator a 100 TB
    * embedding store actually serves from: the two-level AUTO-K coarse
    * quantizer ([[ivf2CoarseCtes]], K = k₀² leaf cells with k₀ =
    * [[autoCoarseCells]](n)) prunes the corpus to the query's
    * `nprobe = 3` nearest cells; 8 product-quantizer codebooks (8 lanes ×
    * K=8 codes each) compress every corpus vector to 4 code ids; and each
    * query scores candidates by ADC — one lookup table of (query ×
    * subspace × code) partial distances, summed over the candidate's codes
    * via an equi-join, never touching the full corpus vectors at query
    * time.
    *
    * Scale shape: codebooks are model state (M×K×subDim ints — broadcast);
    * encode is one lane-join + argmin aggregate per vector; the search is
    * cell-pruned (the IVF equi-join invariant) and each candidate costs M
    * integer lookups instead of a DIM-lane dot. Exact int64 arithmetic
    * end-to-end (milli-unit lanes) — the oracle replays the identical
    * recurrence, bit-exact.
    */
  /** Everything downstream of the trained centroids: final encode
    * assignments for both quantizers, the query set, cell probing, the
    * ADC lookup table, candidate scoring, and the top-5. `cvc2Ref` /
    * `pqc2Ref` name the trained-centroid relations (inline CTEs for the
    * oracle; checkpointed views for Spark).
    */
  /** The QUERY-SIDE model state of IVF-PQ serving (q lanes → cell probes →
    * ADC lookup table) — shared by the batch gates (via [[ivfPqPostCtes]])
    * and the STREAMING upsert gate, whose Spark side materializes `probe`
    * and `lut` once (broadcast-sized: nq×3 and nq×M×K rows) and re-serves
    * them against the growing code store every micro-batch.
    */
  /** AUTO-SCALED per-level fanout for the two-level coarse quantizer
    * (round-12): the [[autoPlanes]] treatment applied to the IVF cell
    * count. With K = 4 cells FIXED, candidates/query = nprobe·n/K was
    * linear in n and queries scale with n, so serving measured Θ(n²) at
    * the 100× probe (SCALE.md round-11). k₀ = smallest power of two with
    * k₀³ ≥ ceil(n/256), clamped to ≥ 2 — so the leaf cell count K = k₀²
    * grows ~n^(2/3) and the leaf width n/K ~ 10-40·n^(1/3):
    *  - corpus assignment is HIERARCHICAL (super then sub): ~4·n·k₀·DIM
    *    join tuples = Θ(n^(4/3)), never n·K;
    *  - serve candidates/query = nprobe·n/K = Θ(n^(1/3)) — within the
    *    ~2×-per-decade budget;
    *  - the query-side probe scores all K leaf centroids flat (nq·K·DIM);
    *    with nq = n/100 that term crosses the assignment cost only past
    *    k₀ ≈ 200, i.e. n ≈ 2·10⁹ vectors — at that scale the probe
    *    routes through the supers exactly like the corpus side.
    * EXACT-INTEGER in both engines ([[autoPlanes]] lesson): Scala uses bit
    * arithmetic; the oracle's LOG2/POWER doubles are exact at the integer
    * points they are evaluated at (integer inputs, power-of-two outputs,
    * L/3.0 with L ≤ 55 exact whenever it lands on an integer).
    */
  private[queries] def autoCoarseCells(n: Long): Int = {
    val q = math.max(1L, (n + 255) >> 8) // ceil(n/256)
    val l = if (q <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    val j = (l + 2) / 3 // smallest j with 8^j >= q
    val k0 = math.max(2, 1 << j)
    // Composite leaf cid = scid*1024 + sub requires k0 <= 1024 for
    // disjointness (n <= ~2.7e11 vectors); past that, sub ids would
    // silently collide into the next super's cid space. Fail loudly.
    require(k0 <= 1024,
      s"autoCoarseCells: k0=$k0 > 1024 (n=$n) breaks composite-cid disjointness")
    k0
  }

  /** DuckDB twin of [[autoCoarseCells]] as an aggregate over the exploded
    * lane relation (COUNT(DISTINCT vec_id) = corpus size).
    *
    * ASYMMETRY (documented per ADVICE r13): the Spark side `require`s
    * k0 <= 1024 and fails loudly past n ≈ 2.7e11; this SQL twin computes k0
    * with no equivalent check, so at that scale the oracle would silently
    * collide composite cids where Spark errors. Deliberate: the oracle is a
    * fixture-scale verification harness (n ≤ 2e5 across every committed SF
    * and probe, k0 ≤ 16), and editing the declared oracle text to add an
    * error CASE would change every downstream query's declared SQL for a
    * bound 6 orders of magnitude beyond any oracle run. */
  private def autoCoarseCellsSql(xRef: String): String =
    s"""nv AS (SELECT GREATEST(2, CAST(POWER(2, CEIL(CEIL(LOG2(CAST(
       |    GREATEST(1, (COUNT(DISTINCT vec_id)+255)//256) AS DOUBLE)))/3.0)) AS BIGINT)) AS k0
       |  FROM $xRef)""".stripMargin

  /** TWO-LEVEL AUTO-K COARSE QUANTIZER (round-12): replaces the fixed
    * K = 4 coarse chain of the sim_ivf_pq family. Level 1 is the shared
    * Lloyd recurrence ([[pqTrainCtes]], one subspace of all DIM lanes)
    * with k₀ = [[autoCoarseCells]](n) super-cells; level 2 trains k₀
    * sub-cells WITHIN each super — seeds are each super's k₀ lowest
    * member vec_ids, every assignment join is keyed (super, i) so a
    * vector only ever scores its own super's sub-centroids: the n-side
    * work is Θ(n·k₀·DIM) per step, never n·K. Same exact-int64 milli-unit
    * arithmetic and (dist, id) argmin tie-breaks as the flat chain.
    *
    * Emits `cvc2` (leaf centroids, composite cid = scid·1024 + sub, m=0)
    * and `cva2` (final per-vector leaf assignment) — the exact relation
    * shapes the downstream serve/ADC CTEs already consume, so probe,
    * candidate generation, residual formation and index stats are
    * unchanged. Requires k₀ ≤ 1024 (n ≤ ~2.7·10¹¹) for composite-id
    * disjointness. Spark passes the k₀ literal (one count job up front);
    * the oracle derives the identical value in the `nv` CTE.
    */
  private[queries] def ivf2CoarseCtes(d: Dialect, xRef: String,
      k0Lit: String = ""): String = {
    val (nvCte, k0) =
      if (d == SparkDialect) {
        require(k0Lit.nonEmpty, "Spark side must pass the auto-K literal")
        ("", k0Lit)
      } else (autoCoarseCellsSql(xRef) + ",\n", "(SELECT k0 FROM nv)")
    s"""$nvCte${pqTrainCtes(d, xRef, "s1", DIM, k0)},
       |${pqAssignCtes(d, xRef, "s1", 2, "s1c2")},
       |${ivf2SubTrainCtes(d, xRef, "s1a2", k0)},
       |${ivf2SubAssignCtes(d, xRef, "s1a2", "s2c2")},
       |cvc2 AS (SELECT scid*1024 + sub AS cid, 0 AS m, i, c FROM s2c2),
       |cva2 AS (SELECT vec_id, 0 AS m, scid*1024 + sub AS cid FROM s2a2)""".stripMargin
  }

  /** Level-2 TRAINING fragment of the two-level coarse quantizer (seeds →
    * assign → recompute within each super), ending at the `s2c2` leaf
    * centroids. `s1a2Ref` names the level-1 assignment relation so the
    * Spark runner can pass a materialized view ([[ivf2ModelViews]]) while
    * the oracle inlines the CTE — identical text, identical results. */
  private def ivf2SubTrainCtes(d: Dialect, xRef: String, s1a2Ref: String,
      k0: String): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""s2seed AS (SELECT vec_id, cid AS scid,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) - 1 AS sub
       |  FROM $s1a2Ref),
       |s2c0 AS (SELECT ${bc(d, "sd")}sd.scid, sd.sub, x.i, CAST(x.x*1000 AS BIGINT) AS c
       |  FROM $xRef x JOIN s2seed sd ON sd.vec_id = x.vec_id
       |  WHERE sd.sub < $k0),
       |s2d1 AS (SELECT ${bc(d, "c")}x.vec_id, c.scid, c.sub,
       |    CAST(SUM((x.x*1000 - c.c)*(x.x*1000 - c.c)) AS BIGINT) AS dist
       |  FROM $xRef x JOIN $s1a2Ref a ON a.vec_id = x.vec_id
       |  JOIN s2c0 c ON c.scid = a.cid AND c.i = x.i
       |  GROUP BY x.vec_id, c.scid, c.sub),
       |s2a1 AS (SELECT vec_id, scid, sub FROM (
       |    SELECT vec_id, scid, sub,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, sub) AS rn
       |    FROM s2d1) r WHERE rn = 1),
       |s2c2 AS (SELECT a.scid, a.sub, x.i,
       |    (CAST(SUM(x.x) AS BIGINT)*1000
       |      - ((CAST(SUM(x.x) AS BIGINT)*1000) % COUNT(*))) $idiv COUNT(*) AS c
       |  FROM $xRef x JOIN s2a1 a ON x.vec_id = a.vec_id
       |  GROUP BY a.scid, a.sub, x.i)""".stripMargin
  }

  /** Level-2 final ASSIGNMENT fragment (one more argmin against the trained
    * leaf centroids), ending at `s2a2`. Ref-parameterized like
    * [[ivf2SubTrainCtes]]. */
  private def ivf2SubAssignCtes(d: Dialect, xRef: String, s1a2Ref: String,
      s2c2Ref: String): String =
    s"""s2d2 AS (SELECT ${bc(d, "c")}x.vec_id, c.scid, c.sub,
       |    CAST(SUM((x.x*1000 - c.c)*(x.x*1000 - c.c)) AS BIGINT) AS dist
       |  FROM $xRef x JOIN $s1a2Ref a ON a.vec_id = x.vec_id
       |  JOIN $s2c2Ref c ON c.scid = a.cid AND c.i = x.i
       |  GROUP BY x.vec_id, c.scid, c.sub),
       |s2a2 AS (SELECT vec_id, scid, sub FROM (
       |    SELECT vec_id, scid, sub,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, sub) AS rn
       |    FROM s2d2) r WHERE rn = 1)""".stripMargin

  /** STAGED Spark materialization of the two-level coarse model
    * (round-13 optimization): Catalyst INLINES multi-reference CTEs, so
    * the one-shot chain replicated the whole Lloyd recurrence per
    * downstream reference — sim_ivf_pq_residual's physical plan measured
    * 1220 Exchange nodes / 16.6k plan lines at sf0.1 (guide §2.4: remove
    * shuffles outright; §7.2: read the plan). Each multiply-referenced
    * model relation is staged ONCE ([[Stage.view]]); every stage runs the
    * IDENTICAL per-relation SQL the oracle's CTEs define, so results stay
    * bit-identical. Registers
    * `graft_${tag}_{s1c2,s1a2,s2c2,cvc2,cva2}` (cvc2 is a pure projection
    * over the checkpointed s2c2 — no extra job). */
  private[queries] def ivf2ModelViews(s: SparkSession, xView: String,
      k0: String, tag: String): Unit = {
    val d = SparkDialect
    // level-1 train + final assignment in ONE job: the chain is linear, so
    // inlining it costs nothing, and only its END relation (s1a2, 3 refs
    // downstream) needs materializing — a separate s1c2 barrier measured
    // pure serialization overhead.
    Stage.view(s"graft_${tag}_s1a2", s.sql(
      s"WITH ${pqTrainCtes(d, xView, "s1", DIM, k0)}, " +
        s"${pqAssignCtes(d, xView, "s1", 2, "s1c2")} SELECT vec_id, m, cid FROM s1a2"))
    Stage.view(s"graft_${tag}_s2c2", s.sql(
      s"WITH ${ivf2SubTrainCtes(d, xView, s"graft_${tag}_s1a2", k0)} " +
        "SELECT scid, sub, i, c FROM s2c2"))
    Stage.view(s"graft_${tag}_cva2", s.sql(
      s"WITH ${ivf2SubAssignCtes(d, xView, s"graft_${tag}_s1a2", s"graft_${tag}_s2c2")} " +
        "SELECT vec_id, 0 AS m, scid*1024 + sub AS cid FROM s2a2"))
    s.sql(s"SELECT scid*1024 + sub AS cid, 0 AS m, i, c FROM graft_${tag}_s2c2")
      .createOrReplaceTempView(s"graft_${tag}_cvc2")
  }

  /** Staged PQ codebook/code materialization (same treatment): registers
    * `graft_${tag}_pqc2` and (when `withCodes`) `graft_${tag}_pqa2`. */
  private[queries] def pqModelViews(s: SparkSession, xView: String,
      tag: String, scale: Int = 1000, withCodes: Boolean = true): Unit = {
    val d = SparkDialect
    Stage.view(s"graft_${tag}_pqc2", s.sql(
      s"WITH ${pqTrainCtes(d, xView, "pq", 8, "8", scale)} SELECT cid, m, i, c FROM pqc2"))
    if (withCodes) Stage.view(s"graft_${tag}_pqa2", s.sql(
      s"WITH ${pqAssignCtes(d, xView, "pq", 2, s"graft_${tag}_pqc2", scale)} " +
        "SELECT vec_id, m, cid FROM pqa2"))
  }

  /** Hierarchical ENCODE against an already-trained two-level model
    * (super centroids `s1c2Ref`, leaf centroids `cvc2Ref` with composite
    * cids): nearest super first (k₀ candidates), then nearest leaf WITHIN
    * that super (k₀ candidates, `cid div 1024` recovers the super) —
    * bit-identical to the training chain's own final assignment for the
    * same inputs, which is what makes the streaming per-batch encode and
    * the batch gate's corpus-wide encode interchangeable. Emits `cva2`.
    */
  private[queries] def ivf2EncodeCtes(d: Dialect, xRef: String,
      s1c2Ref: String, cvc2Ref: String): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""e1d AS (SELECT ${bc(d, "c")}x.vec_id, c.cid,
       |    CAST(SUM((x.x*1000 - c.c)*(x.x*1000 - c.c)) AS BIGINT) AS dist
       |  FROM $xRef x JOIN $s1c2Ref c ON c.i = x.i GROUP BY x.vec_id, c.cid),
       |e1a AS (SELECT vec_id, cid AS scid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM e1d) r WHERE rn = 1),
       |e2d AS (SELECT ${bc(d, "c")}x.vec_id, c.cid,
       |    CAST(SUM((x.x*1000 - c.c)*(x.x*1000 - c.c)) AS BIGINT) AS dist
       |  FROM $xRef x JOIN e1a a ON a.vec_id = x.vec_id
       |  JOIN $cvc2Ref c ON c.i = x.i AND c.cid $idiv 1024 = a.scid
       |  GROUP BY x.vec_id, c.cid),
       |cva2 AS (SELECT vec_id, 0 AS m, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM e2d) r WHERE rn = 1)""".stripMargin
  }

  private[queries] def ivfPqServeStaticCtes(d: Dialect, xRef: String,
      cvc2Ref: String, pqc2Ref: String): String =
    s"""q AS (SELECT vec_id AS qid, i, CAST(x*1000 AS BIGINT) AS qx
       |  FROM $xRef WHERE vec_id % 100 = 0),
       |qprobe AS (SELECT ${bc(d, "c")}q.qid, c.cid,
       |    CAST(SUM((q.qx - c.c)*(q.qx - c.c)) AS BIGINT) AS dist
       |  FROM q JOIN $cvc2Ref c ON q.i = c.i GROUP BY q.qid, c.cid),
       |probe AS (SELECT qid, cid FROM (
       |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
       |  FROM qprobe) r WHERE rn <= 3),
       |lut AS (SELECT ${bc(d, "c")}q.qid, c.m, c.cid,
       |    CAST(SUM((q.qx - c.c)*(q.qx - c.c)) AS BIGINT) AS pd
       |  FROM q JOIN $pqc2Ref c ON q.i = c.i GROUP BY q.qid, c.m, c.cid)""".stripMargin

  private def ivfPqPostCtes(d: Dialect, xRef: String,
      cvc2Ref: String, pqc2Ref: String): String =
    s"""${pqAssignCtes(d, xRef, "pq", 2, pqc2Ref)},
       |${ivfPqServeCtes(d, xRef, cvc2Ref, pqc2Ref, "cva2", "pqa2")}""".stripMargin

  /** The serve chain downstream of a trained model (probe → candidates →
    * ADC → top-5), ref-parameterized over the model relations so the Spark
    * runner can serve from materialized views while the oracle inlines the
    * CTEs — identical text, identical results. */
  private[queries] def ivfPqServeCtes(d: Dialect, xRef: String,
      cvc2Ref: String, pqc2Ref: String, cva2Ref: String,
      pqa2Ref: String): String =
    s"""${ivfPqServeStaticCtes(d, xRef, cvc2Ref, pqc2Ref)},
       |cand AS (SELECT ${bc(d, "p")}p.qid, a.vec_id AS nid
       |  FROM probe p JOIN $cva2Ref a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
       |adc AS (SELECT ${bc(d, "l")}cd.qid, cd.nid, CAST(SUM(l.pd) AS BIGINT) AS adist
       |  FROM cand cd JOIN $pqa2Ref a ON a.vec_id = cd.nid
       |  JOIN lut l ON l.qid = cd.qid AND l.m = a.m AND l.cid = a.cid
       |  GROUP BY cd.qid, cd.nid),
       |pqtop AS (SELECT qid, nid, adist, rnk FROM (
       |    SELECT qid, nid, adist,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, nid) AS rnk
       |  FROM adc) r WHERE rnk <= 5)""".stripMargin

  /** The full inline CTE chain (oracle form): both training fronts plus
    * the post-training pipeline over their `c2` relations. */
  private def ivfPqCtes(d: Dialect, xRef: String, k0Lit: String = ""): String =
    s"""${ivf2CoarseCtes(d, xRef, k0Lit)},
       |${pqTrainCtes(d, xRef, "pq", 8, 8)},
       |${ivfPqPostCtes(d, xRef, "cvc2", "pqc2")}""".stripMargin

  /** One-shot Spark runner for the IVF-PQ family: materialize the
    * quantized lane matrix once (the [[embKmeansLloyd]] lesson), then run
    * `body` as a single inline SQL — the oracle's own CTE chain. For the
    * NON-residual gates this measured FASTER than staged materialization
    * (round-13: sim_ivf_pq 3.9 s one-shot vs 6.8 s staged at sf0.1 under
    * size-first AQE coalescing): the model relations are referenced at
    * most once downstream, Spark's ReuseExchange dedupes the repeated
    * training subtrees, and one DAG keeps independent stages running in
    * parallel where eager per-stage checkpoints would serialize them. The
    * RESIDUAL gates are the exception — see [[ivfPqResidualSpark]]. */
  private def ivfPqSpark(body: (String, String) => String): (SparkSession, String) => DataFrame =
    (s, dir) => {
      Stage.tables(s, dir, "embeddings")
      val qz = Stage.view("graft_pq_qz",
        s.sql(s"WITH ${quantCte(SparkDialect)} SELECT vec_id, qv FROM qz"))
      Stage.view("graft_pq_x", s.sql("SELECT vec_id, posexplode(qv) AS (i, x) FROM graft_pq_qz"))
      // auto-K literal: one count job over the checkpointed per-vector
      // relation (the oracle's nv CTE computes the identical value)
      val k0 = autoCoarseCells(qz.count()).toString
      s.sql(body("graft_pq_x", k0))
    }

  /** STAGED Spark runner for the residual gates (round-13 optimization):
    * the residual lane matrix `xr` feeds the whole PQ chain (4 references)
    * and itself re-derives the two-level coarse model per reference —
    * Catalyst inlines multi-reference CTEs, so the one-shot residual plan
    * measured 1220 Exchanges / 16.6k plan lines at sf0.1 (19.4 s; 13.4 s
    * under size-first AQE coalescing). Staging the model relations
    * ([[ivf2ModelViews]]), the residual matrix, and the residual-trained
    * PQ codebooks/codes ([[pqModelViews]]) collapses the plan to linear:
    * 7.9 s at sf0.1. Every stage is the oracle's own CTE text against the
    * previous stage's relation, so results are bit-identical. */
  private def ivfPqResidualSpark(tail: String => String): (SparkSession, String) => DataFrame =
    (s, dir) => {
      Stage.tables(s, dir, "embeddings")
      val qz = Stage.view("graft_pq_qz",
        s.sql(s"WITH ${quantCte(SparkDialect)} SELECT vec_id, qv FROM qz"))
      Stage.view("graft_pq_x",
        s.sql("SELECT vec_id, posexplode(qv) AS (i, x) FROM graft_pq_qz"))
      val k0 = autoCoarseCells(qz.count()).toString
      ivf2ModelViews(s, "graft_pq_x", k0, "pq")
      // residual lanes (already milli-unit): x − assigned leaf centroid
      Stage.view("graft_pq_xr", s.sql(
        """SELECT x.vec_id, x.i, x.x*1000 - c.c AS x
          |FROM graft_pq_x x JOIN graft_pq_cva2 a ON a.vec_id = x.vec_id
          |JOIN graft_pq_cvc2 c ON c.cid = a.cid AND c.i = x.i""".stripMargin))
      // codebooks only: the code relation (pqa2, ONE downstream reference)
      // is inlined into the serve tail — a checkpoint there is a pure
      // barrier (the assign compute runs once either way)
      pqModelViews(s, "graft_pq_xr", "pq", scale = 1, withCodes = false)
      s.sql(tail("graft_pq_x"))
    }

  private[queries] val duckPqX =
    "SELECT vec_id, unnest(qv) AS x, unnest(range(len(qv))) AS i FROM qz"

  /** ANN INDEX DIAGNOSTICS (round-9): the two numbers an embedding-store
    * operator watches per index build — per-cell OCCUPANCY (cell balance
    * drives nprobe tail latency: one hot cell and every probe touching it
    * pays its full width) and per-cell PQ DISTORTION (the exact int64
    * squared error between each member's lanes and its assigned PQ
    * centroids — the quantity recall degrades with). Derived from the SAME
    * training recurrences the serving gates run (pqTrainCtes/pqAssignCtes),
    * so the report describes exactly the index sim_ivf_pq serves from;
    * the assigned-centroid distance is read off the assignment step's own
    * distance relation (d2 ⋈ a2) — no recomputation.
    *
    * 100 TB shape: training is the documented linear Lloyd recurrence;
    * the report itself is two hash aggregates over model-keyed joins —
    * index-sized output (KM rows).
    */
  private def simIndexStats: QueryDef = {
    // the report tail over the assignment-step distance relation (pd) and
    // the model relations, ref-parameterized for the staged Spark runner
    def statsTail(pqd2Ref: String, pqa2Ref: String, cva2Ref: String): String =
      s"""pd AS (SELECT d.vec_id, CAST(SUM(d.dist) AS BIGINT) AS dd
         |  FROM $pqd2Ref d JOIN $pqa2Ref a
         |    ON a.vec_id = d.vec_id AND a.m = d.m AND a.cid = d.cid
         |  GROUP BY d.vec_id)
         |SELECT CAST(c.cid AS BIGINT) AS cell,
         |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(pd.dd) AS BIGINT) AS pq_distortion
         |FROM $cva2Ref c JOIN pd ON pd.vec_id = c.vec_id
         |GROUP BY c.cid""".stripMargin
    QueryDef("sim_index_stats",
      s"""WITH ${quantCte(DuckDialect)}, x AS ($duckPqX),
         |${ivf2CoarseCtes(DuckDialect, "x")},
         |${pqTrainCtes(DuckDialect, "x", "pq", 8, 8)},
         |${pqAssignCtes(DuckDialect, "x", "pq", 2, "pqc2")},
         |${statsTail("pqd2", "pqa2", "cva2")}""".stripMargin)(
      ivfPqSpark((xRef, k0) =>
        s"""WITH ${ivf2CoarseCtes(SparkDialect, xRef, k0)},
           |${pqTrainCtes(SparkDialect, xRef, "pq", 8, 8)},
           |${pqAssignCtes(SparkDialect, xRef, "pq", 2, "pqc2")},
           |${statsTail("pqd2", "pqa2", "cva2")}""".stripMargin))
  }

  private def simIvfPq: QueryDef = {
    val sel =
      """SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid,
        |  adist, CAST(rnk AS BIGINT) AS rnk
        |FROM pqtop""".stripMargin
    QueryDef("sim_ivf_pq",
      s"""WITH ${quantCte(DuckDialect)}, x AS ($duckPqX),
         |${ivfPqCtes(DuckDialect, "x")}
         |$sel""".stripMargin)(
      ivfPqSpark((xRef, k0) =>
        s"""WITH ${ivfPqCtes(SparkDialect, xRef, k0)}
           |$sel""".stripMargin))
  }

  /** Recall of the ADC top-5 against the EXACT integer-L2 top-5 over the
    * same milli-unit lanes (query subset, self excluded) — the
    * configuration-evaluation gate for the quantizer: per-query hit count
    * and micro-unit recall, exact in both engines (set intersection of two
    * deterministic top-k's). On the synthetic fixture (weakly clustered,
    * max pairwise cosine ≈ 0.37) mean recall reads ≈ 0.16 vs the ≈ 0.75
    * nprobe ceiling and the 0.01 chance floor — the measurement this gate
    * exists to surface: a production corpus tunes M/K/nprobe against
    * exactly this number.
    */
  /** Recall tail vs the exact ground truth, parameterized by which top-5
    * relation is being evaluated (`pqtop` = raw ADC, `rtop` = refined). */
  private def ivfPqRecallTail(d: Dialect, xRef: String, topTable: String): String =
    s""",
       |exd AS (SELECT ${bc(d, "q")}q.qid, e.vec_id AS nid,
       |    CAST(SUM((q.qx - e.x*1000)*(q.qx - e.x*1000)) AS BIGINT) AS dist
       |  FROM q JOIN $xRef e ON e.i = q.i AND e.vec_id <> q.qid
       |  GROUP BY q.qid, e.vec_id),
       |ext AS (SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS rnk
       |  FROM exd) r WHERE rnk <= 5),
       |hits AS (SELECT p.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM $topTable p JOIN ext e ON e.qid = p.qid AND e.nid = p.nid
       |  GROUP BY p.qid)
       |SELECT CAST(e.qid AS BIGINT) AS qid,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(h.n_hits, 0) * 200000 AS BIGINT) AS recall_micro
       |FROM (SELECT DISTINCT qid FROM ext) e
       |LEFT JOIN hits h ON h.qid = e.qid""".stripMargin

  private def simIvfPqRecall: QueryDef =
    QueryDef("sim_ivf_pq_recall",
      s"""WITH ${quantCte(DuckDialect)}, x AS ($duckPqX),
         |${ivfPqCtes(DuckDialect, "x")}${ivfPqRecallTail(DuckDialect, "x", "pqtop")}""".stripMargin)(
      ivfPqSpark((xRef, k0) =>
        s"""WITH ${ivfPqCtes(SparkDialect, xRef, k0)}${ivfPqRecallTail(SparkDialect, xRef, "pqtop")}""".stripMargin))

  /** TWO-STAGE REFINE — the production IVF-PQ serving shape: the ADC pass
    * produces a cheap top-`$RefineN` SHORTLIST (code lookups only), then
    * the shortlist alone is re-ranked by the EXACT integer L2 over the
    * full milli-unit lanes — one equi-join on (vec_id, lane) against
    * `$RefineN` candidates/query, never the corpus. Final output = exact-
    * re-ranked top-5.
    *
    * Recall dominance is structural, not statistical: the raw ADC top-5 is
    * a subset of the shortlist, and every exact-ground-truth member that
    * survives into the shortlist ranks ahead of any non-member under the
    * exact (dist, nid) order — so refined recall >= ADC recall PER QUERY
    * (spec-asserted), the verdict's acceptance bar.
    */
  private val RefineN = 20

  private def ivfPqRefineCtes(d: Dialect, xRef: String): String =
    s""",
       |short AS (SELECT qid, nid FROM (
       |    ${rankTopN("SELECT qid, nid, adist FROM adc", "adist",
                       desc = false, RefineN, "rn")}) s0),
       |rfd AS (SELECT ${bc(d, "s, q")}s.qid, s.nid,
       |    CAST(SUM((q.qx - e.x*1000)*(q.qx - e.x*1000)) AS BIGINT) AS dist
       |  FROM short s JOIN q ON q.qid = s.qid
       |  JOIN $xRef e ON e.vec_id = s.nid AND e.i = q.i
       |  GROUP BY s.qid, s.nid),
       |rtop AS (${rankTopN("SELECT qid, nid, dist FROM rfd", "dist",
                            desc = false, 5)})""".stripMargin

  private def simIvfPqRefine: QueryDef = {
    val sel =
      """SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid,
        |  dist, CAST(rnk AS BIGINT) AS rnk
        |FROM rtop""".stripMargin
    QueryDef("sim_ivf_pq_refine",
      s"""WITH ${quantCte(DuckDialect)}, x AS ($duckPqX),
         |${ivfPqCtes(DuckDialect, "x")}${ivfPqRefineCtes(DuckDialect, "x")}
         |$sel""".stripMargin)(
      ivfPqSpark((xRef, k0) =>
        s"""WITH ${ivfPqCtes(SparkDialect, xRef, k0)}${ivfPqRefineCtes(SparkDialect, xRef)}
           |$sel""".stripMargin))
  }

  private def simIvfPqRefineRecall: QueryDef =
    QueryDef("sim_ivf_pq_refine_recall",
      s"""WITH ${quantCte(DuckDialect)}, x AS ($duckPqX),
         |${ivfPqCtes(DuckDialect, "x")}${ivfPqRefineCtes(DuckDialect, "x")}${ivfPqRecallTail(DuckDialect, "x", "rtop")}""".stripMargin)(
      ivfPqSpark((xRef, k0) =>
        s"""WITH ${ivfPqCtes(SparkDialect, xRef, k0)}${ivfPqRefineCtes(SparkDialect, xRef)}${ivfPqRecallTail(SparkDialect, xRef, "rtop")}""".stripMargin))

  /** IVF-PQ with RESIDUAL encoding (round-10): the PQ codebooks are
    * trained on — and the codes encode — the residual
    * `x − coarse_centroid(x)` instead of the raw vector, the production
    * IVF-PQ construction (Jégou, Douze, Schmid, "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011 §IV-A): residual energy is a
    * fraction of vector energy, so the same M×K code budget quantizes
    * finer at equal nprobe. The ADC lookup table becomes PER PROBED CELL
    * (the query's residual against THAT cell's centroid, vs each codebook
    * entry): `lut` is (qid, pcell, m, code) — nq×nprobe×M×K rows, still
    * broadcast-sized model state.
    *
    * Exactness discipline: the coarse chain stays milli-unit (scale
    * 1000); residual lanes are ALREADY milli-unit differences, so the
    * residual PQ chain runs at `scale = 1` through the shared
    * [[pqTrainCtes]]/[[pqAssignCtes]] — same exact int64 arithmetic,
    * bit-identical across engines (|r| ≤ 2·127000 ⇒ per-lane square
    * ≤ 6.5e10, ×64 lanes well inside int64). Scale shape: unchanged from
    * sim_ivf_pq plus one (vec_id, i) equi-join to form residual lanes;
    * candidates stay cell-pruned, ADC stays M lookups per candidate.
    */
  private def ivfPqResidualCtes(d: Dialect, xRef: String, k0Lit: String = ""): String =
    s"""${ivf2CoarseCtes(d, xRef, k0Lit)},
       |xr AS (SELECT x.vec_id, x.i, x.x*1000 - c.c AS x
       |  FROM $xRef x JOIN cva2 a ON a.vec_id = x.vec_id
       |  JOIN cvc2 c ON c.cid = a.cid AND c.i = x.i),
       |${pqTrainCtes(d, "xr", "pq", 8, "8", 1)},
       |${pqAssignCtes(d, "xr", "pq", 2, "pqc2", 1)},
       |${ivfPqResidualServeCtes(d, xRef, "cvc2", "pqc2", "cva2", "pqa2")}""".stripMargin

  /** The residual serve chain (per-probed-cell LUT variant of
    * [[ivfPqServeCtes]]), ref-parameterized over the model relations for
    * the staged Spark runner. */
  private[queries] def ivfPqResidualServeCtes(d: Dialect, xRef: String,
      cvc2Ref: String, pqc2Ref: String, cva2Ref: String,
      pqa2Ref: String): String =
    s"""q AS (SELECT vec_id AS qid, i, CAST(x*1000 AS BIGINT) AS qx
       |  FROM $xRef WHERE vec_id % 100 = 0),
       |qprobe AS (SELECT ${bc(d, "c")}q.qid, c.cid,
       |    CAST(SUM((q.qx - c.c)*(q.qx - c.c)) AS BIGINT) AS dist
       |  FROM q JOIN $cvc2Ref c ON q.i = c.i GROUP BY q.qid, c.cid),
       |probe AS (SELECT qid, cid FROM (
       |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
       |  FROM qprobe) r WHERE rn <= 3),
       |qr AS (SELECT ${bc(d, "p, c")}p.qid, p.cid AS pcell, q.i, q.qx - c.c AS rx
       |  FROM probe p JOIN q ON q.qid = p.qid
       |  JOIN $cvc2Ref c ON c.cid = p.cid AND c.i = q.i),
       |lut AS (SELECT ${bc(d, "c")}r.qid, r.pcell, c.m, c.cid,
       |    CAST(SUM((r.rx - c.c)*(r.rx - c.c)) AS BIGINT) AS pd
       |  FROM qr r JOIN $pqc2Ref c ON r.i = c.i GROUP BY r.qid, r.pcell, c.m, c.cid),
       |cand AS (SELECT ${bc(d, "p")}p.qid, p.cid AS pcell, a.vec_id AS nid
       |  FROM probe p JOIN $cva2Ref a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
       |adc AS (SELECT ${bc(d, "l")}cd.qid, cd.nid, CAST(SUM(l.pd) AS BIGINT) AS adist
       |  FROM cand cd JOIN $pqa2Ref a ON a.vec_id = cd.nid
       |  JOIN lut l ON l.qid = cd.qid AND l.pcell = cd.pcell
       |    AND l.m = a.m AND l.cid = a.cid
       |  GROUP BY cd.qid, cd.nid),
       |pqtop AS (SELECT qid, nid, adist, rnk FROM (
       |    SELECT qid, nid, adist,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, nid) AS rnk
       |  FROM adc) r WHERE rnk <= 5)""".stripMargin

  /** OPQ-style LEARNED ROTATION in exact integer arithmetic (Ge et al.,
    * "Optimized Product Quantization", CVPR 2013 — variance balancing
    * across PQ subspaces is the objective; a signed lane permutation was
    * this gate's round-10 baseline and measured BELOW raw, 0.12 vs 0.16
    * recall@5, because unlearned mixing only scrambles lane variance).
    * The learned transform is a product of 32 disjoint 2×2 integer
    * butterflies:
    *
    *  - PAIRING: lanes ranked by exact integer variance n·Σx² − (Σx)²,
    *    rank r paired with rank 65−r (highest with lowest). Rotated
    *    outputs stay at their ORIGINAL lane positions, so the PQ
    *    subspace partition is untouched — a round-robin variance
    *    reallocation was measured WORSE than raw (0.06 vs 0.10 at
    *    sf0.1): PQ wants correlated lanes grouped, and scattering lanes
    *    by variance rank breaks whatever grouping the native order
    *    carries. With positions fixed, an identity angle reproduces raw
    *    ADC ranking bit-for-bit — the learned transform can only move
    *    recall up from raw, never below it.
    *  - ANGLE (the rotation half — a 2-dim PCA per pair, the deflated-PCA
    *    step at butterfly granularity): each pair picks (a, b) from the
    *    integer points of the circle a² + b² = 65² = 4225 (a Pythagorean-
    *    rich radius: 10 distinct angles plus sign mirrors), MAXIMIZING
    *    the first output lane's variance a²·var_hi + b²·var_lo + 2ab·cov
    *    — exact int64. This decorrelates the pair and concentrates its
    *    energy: on an already-decorrelated corpus it learns ≈ identity
    *    (the measured behavior here — recall equals raw, where the
    *    unlearned permutation baseline LOST recall), on a correlated
    *    corpus it recovers the PCA basis pairwise (spec-pinned on a
    *    correlated fixture). A variance-BALANCING objective was measured
    *    worse than raw on this corpus (0.06 vs 0.10 at sf0.1) — balancing
    *    mixes noise into every lane when variances are already flat.
    *    NOISE GUARD: a non-identity angle is accepted only when its gain
    *    over the identity objective exceeds 1/8 of it (12.5% energy).
    *    Sample covariance on a decorrelated corpus is O(1/√n) noise —
    *    the gain noise scale is ≈0.5·corr ≈ 1%·(3σ) at the fixture
    *    sizes, so 12.5% sits >5σ above it, while genuine correlations
    *    (|corr| ≥ 0.3) clear it easily. Unguarded angle fits were
    *    measured to cost recall (0.07-0.08 vs raw 0.10 at sf0.1) by
    *    correlating subspaces ADC assumes independent.
    *
    * Every butterfly row has squared norm EXACTLY 4225, so the transform
    * is a scaled orthogonal matrix: all pairwise squared distances scale
    * by exactly 4225 and the exact ground-truth top-k — including its
    * (dist, nid) tie order — is bit-identical to raw space (spec-pinned).
    * What changes is precisely the PQ subspace partition, the knob OPQ
    * exists to turn. Moments overflow int64 only past n ≈ 2.4·10⁷ rows —
    * at corpus scale the rotation is learned from a fixed-size sample
    * (standard OPQ practice; the rotation is model state).
    */
  private[queries] def ivfPqOpqCtes(d: Dialect, xRef: String): String = {
    val ang = Seq((65, 0), (63, 16), (60, 25), (56, 33), (52, 39), (39, 52),
      (33, 56), (25, 60), (16, 63), (0, 65), (63, -16), (60, -25), (56, -33),
      (52, -39), (39, -52), (33, -56), (25, -60), (16, -63))
      .map { case (a, b) => s"SELECT $a AS a, $b AS b" }.mkString(" UNION ALL ")
    s"""mom AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
       |    CAST(SUM(CAST(x AS BIGINT)*x) AS BIGINT) AS ss FROM $xRef GROUP BY i),
       |lv AS (SELECT i, n*ss - s*s AS v FROM mom),
       |lr AS (SELECT i, v, ROW_NUMBER() OVER (ORDER BY v DESC, i) AS r FROM lv),
       |pp AS (SELECT hi.i AS la, lo.i AS lb, hi.v AS va, lo.v AS vb, hi.r AS p
       |  FROM lr hi JOIN lr lo ON lo.r = ${DIM + 1} - hi.r WHERE hi.r <= ${DIM / 2}),
       |cx AS (SELECT ${bc(d, "pp")}pp.p,
       |    CAST(COUNT(*) AS BIGINT) * CAST(SUM(CAST(xa.x AS BIGINT)*xb.x) AS BIGINT)
       |      - CAST(SUM(xa.x) AS BIGINT) * CAST(SUM(xb.x) AS BIGINT) AS c
       |  FROM pp JOIN $xRef xa ON xa.i = pp.la
       |  JOIN $xRef xb ON xb.i = pp.lb AND xb.vec_id = xa.vec_id
       |  GROUP BY pp.p),
       |ang AS ($ang),
       |sel0 AS (SELECT pp.p, pp.la, pp.lb, ang.a, ang.b,
       |    (ang.a*ang.a*pp.va + ang.b*ang.b*pp.vb
       |      + 2*ang.a*ang.b*cx.c) AS obj
       |  FROM pp JOIN cx ON cx.p = pp.p CROSS JOIN ang),
       |opq AS (SELECT b.p, b.la, b.lb,
       |    CASE WHEN (b.obj - i.obj) * 8 > i.obj THEN b.a ELSE 65 END AS a,
       |    CASE WHEN (b.obj - i.obj) * 8 > i.obj THEN b.b ELSE 0 END AS b,
       |    b.la AS j1, b.lb AS j2
       |  FROM (SELECT * FROM (SELECT s.p, s.la, s.lb, s.a, s.b, s.obj,
       |        ROW_NUMBER() OVER (PARTITION BY s.p
       |          ORDER BY s.obj DESC, s.a DESC, s.b DESC) AS rn
       |      FROM sel0 s) z WHERE rn = 1) b
       |  JOIN (SELECT p, obj FROM sel0 WHERE a = 65 AND b = 0) i ON i.p = b.p),
       |xrot AS (
       |  SELECT ${bc(d, "r")}va.vec_id, r.j1 AS i, CAST(r.a*va.x + r.b*vb.x AS BIGINT) AS x
       |  FROM opq r JOIN $xRef va ON va.i = r.la
       |  JOIN $xRef vb ON vb.i = r.lb AND vb.vec_id = va.vec_id
       |  UNION ALL
       |  SELECT ${bc(d, "r")}va.vec_id, r.j2 AS i, CAST(r.a*vb.x - r.b*va.x AS BIGINT) AS x
       |  FROM opq r JOIN $xRef va ON va.i = r.la
       |  JOIN $xRef vb ON vb.i = r.lb AND vb.vec_id = va.vec_id)""".stripMargin
  }

  /** Spark staging for the OPQ gates: quantize + explode as [[ivfPqSpark]],
    * then LEARN the rotation and materialize the rotated lane matrix ONCE
    * (the downstream train/assign/serve chain references it many times;
    * the butterfly relation itself is 32 rows of model state). */
  private def opqSpark(body: (String, String) => String): (SparkSession, String) => DataFrame =
    (s, dir) => {
      Stage.tables(s, dir, "embeddings")
      val qz = Stage.view("graft_opq_qz",
        s.sql(s"WITH ${quantCte(SparkDialect)} SELECT vec_id, qv FROM qz"))
      val x = Stage.view("graft_opq_x",
        s.sql("SELECT vec_id, posexplode(qv) AS (i, x) FROM graft_opq_qz"))
      Stage.view("graft_opq_xrot", s.sql(s"WITH ${ivfPqOpqCtes(SparkDialect, "graft_opq_x")} " +
          "SELECT vec_id, i, x FROM xrot"))
      val k0 = autoCoarseCells(qz.count()).toString
      s.sql(body("graft_opq_xrot", k0))
    }

  private def simIvfPqRotated: QueryDef = {
    val sel =
      """SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid,
        |  adist, CAST(rnk AS BIGINT) AS rnk
        |FROM pqtop""".stripMargin
    QueryDef("sim_ivf_pq_rotated",
      s"""WITH ${quantCte(DuckDialect)}, x AS ($duckPqX),
         |${ivfPqOpqCtes(DuckDialect, "x")},
         |${ivfPqCtes(DuckDialect, "xrot")}
         |$sel""".stripMargin)(
      opqSpark((xRef, k0) =>
        s"""WITH ${ivfPqCtes(SparkDialect, xRef, k0)}
           |$sel""".stripMargin))
  }

  /** Recall@5 of the learned-rotation ADC vs the exact top-5 (identical
    * ground truth to [[simIvfPqRecall]] — distances scale by exactly 4225
    * under the integer butterflies, so the exact top-5 and its tie order
    * are invariant): the delta vs raw isolates the learned subspace-
    * partition effect at equal M/K/nprobe. */
  private def simIvfPqRotatedRecall: QueryDef =
    QueryDef("sim_ivf_pq_rotated_recall",
      s"""WITH ${quantCte(DuckDialect)}, x AS ($duckPqX),
         |${ivfPqOpqCtes(DuckDialect, "x")},
         |${ivfPqCtes(DuckDialect, "xrot")}${ivfPqRecallTail(DuckDialect, "xrot", "pqtop")}""".stripMargin)(
      opqSpark((xRef, k0) =>
        s"""WITH ${ivfPqCtes(SparkDialect, xRef, k0)}${ivfPqRecallTail(SparkDialect, xRef, "pqtop")}""".stripMargin))

  private def simIvfPqResidual: QueryDef = {
    val sel =
      """SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid,
        |  adist, CAST(rnk AS BIGINT) AS rnk
        |FROM pqtop""".stripMargin
    QueryDef("sim_ivf_pq_residual",
      s"""WITH ${quantCte(DuckDialect)}, x AS ($duckPqX),
         |${ivfPqResidualCtes(DuckDialect, "x")}
         |$sel""".stripMargin)(
      ivfPqResidualSpark { xRef =>
        s"""WITH ${stagedResidualServeCtes(xRef)}
           |$sel""".stripMargin
      })
  }

  /** The staged Spark residual-serve CTEs over [[ivfPqResidualSpark]]'s
    * model views: the PQ code relation (pqa2) is the one single-reference
    * chain, so it runs inline here (against the materialized residual
    * lanes and codebooks) instead of paying a checkpoint barrier. */
  private def stagedResidualServeCtes(xRef: String): String =
    s"""${pqAssignCtes(SparkDialect, "graft_pq_xr", "pq", 2, "graft_pq_pqc2", 1)},
       |${ivfPqResidualServeCtes(SparkDialect, xRef, "graft_pq_cvc2",
            "graft_pq_pqc2", "graft_pq_cva2", "pqa2")}""".stripMargin

  /** Recall@5 of the residual-encoded ADC against the same exact ground
    * truth as [[simIvfPqRecall]] — equal M/K/nprobe, so the per-query
    * delta vs sim_ivf_pq_recall IS the residual-encoding gain (recorded
    * in SCALE.md; spec-compared at suite level). */
  private def simIvfPqResidualRecall: QueryDef =
    QueryDef("sim_ivf_pq_residual_recall",
      s"""WITH ${quantCte(DuckDialect)}, x AS ($duckPqX),
         |${ivfPqResidualCtes(DuckDialect, "x")}${ivfPqRecallTail(DuckDialect, "x", "pqtop")}""".stripMargin)(
      ivfPqResidualSpark { xRef =>
        s"""WITH ${stagedResidualServeCtes(xRef)}${ivfPqRecallTail(SparkDialect, xRef, "pqtop")}""".stripMargin
      })

  /** SEQUENCE PACKING (round-7): the concat-and-chunk layout a pretraining
    * dataloader feeds the model — documents are concatenated in doc_id
    * order and sliced into fixed 512-token context windows ("bins"), with
    * documents spanning window boundaries (the standard packed-dataset
    * construction; span bookkeeping is what loss masking and attention
    * resets consume downstream).
    *
    * Scale shape: packing runs PER SHARD (`doc_id % 8`) — the practice at
    * corpus scale, since a single global concatenation order would
    * serialize the prefix sum into one partition; per-shard windows are
    * hash-partitioned and independent, so the whole layout is one window
    * shuffle + one explode, embarrassingly parallel across shards. All
    * arithmetic is integer (token counts, running sums, window indices) —
    * bit-identical across engines.
    *
    * Output: one row per (document × spanned window) with the in-window
    * offset of the document's start (0 when the document continues from
    * the previous window) and the token count it contributes to that
    * window.
    */
  private val PackB = 512 // context-window token budget

  private def packSpansCtes(d: Dialect): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""t AS (SELECT doc_id, CAST(${d.len(F.tokens(d, "text"))} AS BIGINT) AS ntok
       |  FROM documents),
       |w AS (SELECT doc_id, doc_id % 8 AS shard, ntok,
       |    CAST(SUM(ntok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM t),
       |spans AS (${d.explodeSelect("doc_id, shard, ntok, cum", "w",
          d.seq(s"(cum - ntok) $idiv $PackB", s"(cum - 1) $idiv $PackB"), "bin")})""".stripMargin
  }

  private def corpusPack(d: Dialect): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""WITH ${packSpansCtes(d)}
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(shard AS BIGINT) AS shard,
       |  CAST(bin AS BIGINT) AS bin,
       |  CAST(CASE WHEN bin = (cum - ntok) $idiv $PackB
       |    THEN (cum - ntok) % $PackB ELSE 0 END AS BIGINT) AS off,
       |  CAST(LEAST(cum, (bin + 1) * $PackB)
       |    - GREATEST(cum - ntok, bin * $PackB) AS BIGINT) AS fill
       |FROM spans""".stripMargin
  }

  /** Per-window fill audit of [[corpusPack]]: every window except each
    * shard's LAST must fill to exactly the budget (the packed-dataset
    * invariant a dataloader relies on — no padding inside the stream).
    */
  private def corpusPackStats(d: Dialect): String =
    s"""WITH ${packSpansCtes(d)},
       |contrib AS (SELECT shard, bin,
       |    LEAST(cum, (bin + 1) * $PackB) - GREATEST(cum - ntok, bin * $PackB) AS c
       |  FROM spans)
       |SELECT CAST(shard AS BIGINT) AS shard, CAST(bin AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(c) AS BIGINT) AS fill_tokens
       |FROM contrib GROUP BY shard, bin""".stripMargin

  /** WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, the MOSS scheme):
    * hash every word-4-gram shingle, then keep the MINIMUM hash of each
    * sliding window of 4 consecutive shingles — the guarantee is that any
    * shared run of ≥ w+k-1 tokens between two documents yields at least
    * one shared fingerprint, at ~1/w the storage of the full shingle set.
    * The fingerprint set (deduped window minima) is the standard
    * plagiarism/near-dup index key.
    *
    * Scale shape: one positional explode (map-only), one window frame MIN
    * partitioned by doc (hash-partitioned — no global window), one
    * DISTINCT. Documents shorter than one full window keep their partial
    * first-window minimum so every doc stays indexed. All integer hashes —
    * bit-identical across engines.
    */
  private val WinnowW = 4

  private def winnowCtes(d: Dialect): String = {
    // Karp-Rabin shingle hashes, the scheme winnowing was defined over:
    // hash each TOKEN once (short base-31 char fold), then combine the 4
    // token hashes of each shingle with pure window arithmetic
    // (`lead()` ×3 + modular polynomial) — no shingle strings are ever
    // built and no per-shingle digest runs. The first formulation hashed
    // every materialized 4-gram string through the md5 fold: measured 12.4s
    // at sf0.1 vs 1.4s for this one, same fingerprint semantics (the hash
    // function is part of the operator contract, as with lshBucket).
    // Each mod step keeps the accumulator < 2^36 — exact in BIGINT.
    val tw = s"(SELECT doc_id, ${F.tokens(d, "text")} AS tk FROM documents) tw"
    val pos =
      if (d == SparkDialect) s"SELECT doc_id, posexplode(tk) AS (pos, t) FROM $tw"
      else s"SELECT doc_id, unnest(tk) AS t, unnest(range(len(tk))) AS pos FROM $tw"
    val shingle = "(((((h * 31 + lead(h, 1) OVER w) % " + F.P +
      ") * 31 + lead(h, 2) OVER w) % " + F.P +
      ") * 31 + lead(h, 3) OVER w) % " + F.P
    s"""ps AS ($pos),
       |v AS (SELECT doc_id, pos, ${F.strHashCheap(d, "t")} AS h FROM ps),
       |shg AS (SELECT doc_id, pos, $shingle AS sh,
       |    COUNT(*) OVER (PARTITION BY doc_id) - 3 AS m
       |  FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |wm AS (SELECT doc_id, pos,
       |    MIN(sh) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp, m
       |  FROM shg WHERE sh IS NOT NULL),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wm
       |  WHERE pos <= GREATEST(m - $WinnowW, 0))""".stripMargin
  }

  private def textWinnowFingerprint(d: Dialect): String =
    s"""WITH ${winnowCtes(d)}
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(fp AS BIGINT) AS fp
       |FROM fps""".stripMargin

  /** Winnowing-candidate near-dup pairs: docs sharing ≥ 2 fingerprints,
    * from an equi-join on the fingerprint key (the bucket-bounded candidate
    * invariant — never all-pairs). The Spark side materializes the
    * fingerprint set once before the self-join (Catalyst inlines a
    * twice-referenced CTE — the shingle-hash fold would run double).
    */
  private def dedupWinnowPairsSelect(table: String): String =
    s"""SELECT CAST(a.doc_id AS BIGINT) AS u, CAST(b.doc_id AS BIGINT) AS v,
       |  CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM $table a JOIN $table b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING COUNT(*) >= 2""".stripMargin

  private def dedupWinnowPairsDef: QueryDef =
    QueryDef("dedup_winnow_pairs",
      s"""WITH ${winnowCtes(DuckDialect)}
         |${dedupWinnowPairsSelect("fps")}""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      Stage.view("graft_winnow_fps", s.sql(
        s"WITH ${winnowCtes(SparkDialect)} SELECT doc_id, fp FROM fps"))
      s.sql(dedupWinnowPairsSelect("graft_winnow_fps"))
    }

  /** EXACT ≥k-token duplicated-substring detection (round-10) — the
    * suffix-array-style dedup corpora actually deploy ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al.
    * arXiv:2107.06499 §4.1), relationally: where the winnowing family
    * APPROXIMATES (sampled fingerprints), this gate is EXACT — for every
    * document pair it reports the true maximal duplicated token span
    * (≥ [[ExactSubK]] tokens), by k-gram anchoring:
    *
    *  1. every k-token window becomes an anchor row (doc, pos, kgram);
    *  2. candidate pairs come from the k-gram EQUI-JOIN (the
    *     bucket-bounded invariant — the join key is the exact k-gram
    *     string, so the anchor match IS the verify: no hash collisions to
    *     re-check, never all-pairs);
    *  3. consecutive anchor matches on one alignment diagonal
    *     (pa − pb constant, pa consecutive) merge via the gaps-and-islands
    *     trick into maximal runs — a run of L anchors certifies an exact
    *     duplicated substring of L + k − 1 tokens (suffix-array adjacency,
    *     reconstructed relationally).
    *
    * 100 TB shape: one explode + one hash exchange on the k-gram key
    * (anchor buckets), one window partitioned by (da, db, diag); hot
    * k-grams (boilerplate) are the usual skew keys — salting/AQE skew-join
    * territory, or a document-frequency cap on anchors as the documented
    * relaxation. Spark side materializes the anchor relation ONCE before
    * the self-join (the dedup_winnow_pairs lesson — an inlined CTE would
    * run the tokenize + slice fold twice).
    */
  private val ExactSubK = 8

  private[queries] def exactSubGramCtes(d: Dialect): String = {
    val kg = d.joinWs(d.slice("toks", "i", ExactSubK.toString))
    s"""t AS (SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM documents),
       |g0 AS (${d.explodeSelect("doc_id, toks", "t",
           d.seq("1", s"${d.len("toks")} - ${ExactSubK - 1}"), "i")}),
       |g AS (SELECT doc_id, i, $kg AS kg FROM g0)""".stripMargin
  }

  private[queries] def exactSubBody(table: String): String =
    s"""SELECT CAST(da AS BIGINT) AS doc_a, CAST(db AS BIGINT) AS doc_b,
       |  CAST(MAX(span) AS BIGINT) AS max_span_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_spans
       |FROM (SELECT da, db, COUNT(*) + ${ExactSubK - 1} AS span
       |  FROM (SELECT da, db, pa - pb AS diag, pa,
       |      pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS isl
       |    FROM (SELECT a.doc_id AS da, b.doc_id AS db, a.i AS pa, b.i AS pb
       |      FROM $table a JOIN $table b
       |        ON a.kg = b.kg AND a.doc_id < b.doc_id) pairs) runs
       |  GROUP BY da, db, diag, isl) spans
       |GROUP BY da, db""".stripMargin

  private def dedupExactSubstringDef: QueryDef =
    QueryDef("dedup_exact_substring",
      s"""WITH ${exactSubGramCtes(DuckDialect)}
         |${exactSubBody("g")}""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      Stage.view("graft_xsub_g", s.sql(
        s"WITH ${exactSubGramCtes(SparkDialect)} SELECT doc_id, i, kg FROM g"))
      s.sql(exactSubBody("graft_xsub_g"))
    }

  /** Hot-anchor document-frequency cap for the capped variant: k-grams
    * present in more than this many docs are dropped from the anchor set.
    * 2 at fixture scale (the sf0.01 DF histogram is {1: 21564, 2: 944,
    * 3: 71} — the cap provably filters); a production corpus sets this to
    * its boilerplate threshold. */
  private val ExactSubDfCap = 2

  /** The anchor relation under the DF cap: `hot` is the capped k-gram set
    * (an aggregate over the anchor relation), removed by anti-join. */
  private def exactSubCappedSel(table: String): String =
    s"""SELECT g.doc_id, g.i, g.kg FROM $table g
       |LEFT JOIN (SELECT kg FROM $table
       |  GROUP BY kg HAVING COUNT(DISTINCT doc_id) > $ExactSubDfCap) hot
       |  ON hot.kg = g.kg
       |WHERE hot.kg IS NULL""".stripMargin

  /** CAPPED exact-substring dedup (round-10) — the documented skew guard
    * of [[dedupExactSubstringDef]] as its own operator: k-gram anchors
    * with document frequency above [[ExactSubDfCap]] (corpus boilerplate —
    * headers, licenses, navigation chrome) are dropped BEFORE pairing, so
    * the candidate join's per-key width is bounded by construction and the
    * hot-key n² blowup (the one skew risk of the exact gate) cannot
    * happen. The trade is explicit and part of the operator contract
    * (replicated by the oracle): spans detectable only through capped
    * anchors are missed — exactly the relaxation production suffix-array
    * dedup deployments make (Lee et al. arXiv:2107.06499 cap candidate
    * windows the same way).
    *
    * 100 TB shape: adds ONE aggregate on the anchor key (map-side
    * combinable count-distinct via the (kg, doc) pre-distinct) + one
    * anti-join, both on the same kg-hash exchange the pairing join
    * already pays.
    */
  private def dedupExactSubstringCappedDef: QueryDef =
    QueryDef("dedup_exact_substring_capped",
      s"""WITH ${exactSubGramCtes(DuckDialect)},
         |gc AS (${exactSubCappedSel("g")})
         |${exactSubBody("gc")}""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      Stage.view("graft_xsubc_g", s.sql(
        s"WITH ${exactSubGramCtes(SparkDialect)} SELECT doc_id, i, kg FROM g"))
      Stage.view("graft_xsubc_gc", s.sql(exactSubCappedSel("graft_xsubc_g")))
      s.sql(exactSubBody("graft_xsubc_gc"))
    }

  /** REPEATED-SPAN REMOVAL — the substring-level dedup APPLY step
    * (ExactSubstr-style, Lee et al. arXiv:2107.06499): rewrite every
    * document with the non-canonical occurrences of cross-document
    * repeated word-4-gram spans excised, keeping the copy in the span's
    * lowest doc_id (`first_doc`, the same canonical-owner rule as
    * dedup_repeated_spans). This is the missing half of the detection
    * gate: a training-data pipeline doesn't just REPORT the memorization
    * hazard, it clips it out of every survivor.
    *
    * Contract (single pass, like ExactSubstr): a token is removed iff it
    * is covered by some 4-gram occurrence whose span also occurs in a
    * LOWER-id document; ALL occurrences inside the owner doc stay (within-
    * doc repetition is text_repetition's business, not dedup's). Removal
    * can create new adjacent 4-grams in the rewritten text — as in the
    * reference implementation, those are next-pass material, not this
    * pass's.
    *
    * Scale shape: the span STRINGS never materialize — spans are the same
    * Karp-Rabin positional token-hash combination winnowing uses (the
    * 12.4s→1.1s lesson); the repeated-span relation is a hash aggregate on
    * the span hash; occurrence marking is an equi-join back on that hash;
    * coverage is a per-doc window MAX over the foreign-start flag (ROWS 3
    * PRECEDING — span width), hash-partitioned by doc_id; reconstruction
    * is an ordered aggregate per doc. One corpus-wide exchange per step,
    * never all-pairs, no UDFs.
    */
  private def scrubShgCtes(d: Dialect, docsTable: String = "documents"): String = {
    val tw = s"(SELECT doc_id, ${F.tokens(d, "text")} AS tk FROM $docsTable) tw"
    val pos =
      if (d == SparkDialect) s"SELECT doc_id, posexplode(tk) AS (pos, t) FROM $tw"
      else s"SELECT doc_id, unnest(tk) AS t, unnest(range(len(tk))) AS pos FROM $tw"
    val shingle = "(((((h * 31 + lead(h, 1) OVER w) % " + F.P +
      ") * 31 + lead(h, 2) OVER w) % " + F.P +
      ") * 31 + lead(h, 3) OVER w) % " + F.P
    s"""sps AS ($pos),
       |sv AS (SELECT doc_id, pos, t, ${F.strHashCheap(d, "t")} AS h FROM sps),
       |sshg AS (SELECT doc_id, pos, t, $shingle AS sh
       |  FROM sv WINDOW w AS (PARTITION BY doc_id ORDER BY pos))""".stripMargin
  }

  private def spanScrubSelect(d: Dialect, shgTable: String): String = {
    // ordered reconstruction of the kept tokens; aggregate skips the NULLs
    // the CASE leaves on removed positions in both engines. COALESCE
    // aligns the all-removed edge (DuckDB string_agg of no rows = NULL,
    // Spark array_join of empty = '').
    val kept =
      if (d == SparkDialect)
        "array_join(transform(array_sort(collect_list(" +
          "CASE WHEN c = 0 THEN struct(pos, t) END)), x -> x.t), ' ')"
      else "COALESCE(string_agg(CASE WHEN c = 0 THEN t END, ' ' ORDER BY pos), '')"
    s"""rep AS (SELECT sh, CAST(MIN(doc_id) AS BIGINT) AS first_doc
       |  FROM $shgTable WHERE sh IS NOT NULL
       |  GROUP BY sh HAVING COUNT(DISTINCT doc_id) > 1),
       |fl AS (SELECT g.doc_id, g.pos, g.t,
       |    CASE WHEN r.first_doc IS NOT NULL AND r.first_doc <> g.doc_id
       |      THEN 1 ELSE 0 END AS f
       |  FROM $shgTable g LEFT JOIN rep r ON g.sh = r.sh),
       |cov AS (SELECT doc_id, pos, t,
       |    MAX(f) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS c
       |  FROM fl)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(c) AS BIGINT) AS n_removed,
       |  CAST(COUNT(*) - SUM(c) AS BIGINT) AS n_kept,
       |  $kept AS scrubbed
       |FROM cov GROUP BY doc_id""".stripMargin
  }

  private def dedupSpanScrubDef: QueryDef =
    QueryDef("dedup_span_scrub",
      s"""WITH ${scrubShgCtes(DuckDialect)},
         |${spanScrubSelect(DuckDialect, "sshg")}""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      // sshg is referenced twice (repeated-span aggregate + the occurrence
      // join); it is a CTE-bearing plan, so per the materialization rule it
      // must be staged (Stage.view) — persist+view would silently re-run the
      // explode + window per reference.
      Stage.view("graft_scrub_shg", s.sql(
        s"WITH ${scrubShgCtes(SparkDialect)} SELECT doc_id, pos, t, sh FROM sshg"))
      s.sql(s"WITH ${spanScrubSelect(SparkDialect, "graft_scrub_shg")}")
    }

  /** INVERTED INDEX with delta-encoded postings — the retrieval-side data
    * structure a search/RAG stack builds over the corpus: per token, the
    * document frequency and the SORTED posting list stored as first-order
    * deltas (the classic postings compression: deltas are small ints that
    * byte-pack; the space-joined string is the engine-portable surface).
    *
    * Scale shape: one explode + DISTINCT (map-side combinable), one
    * groupBy token — hash-partitioned; posting arrays are bounded by
    * per-token document frequency exactly as a production index's posting
    * lists are. Delta transform is a pure array lambda (codegen).
    */
  private def textInvertedIndex(d: Dialect): String = {
    val delta = s"${d.elem("ps", "i")} - CASE WHEN i = 1 THEN 0 ELSE ${d.elem("ps", "i-1")} END"
    s"""WITH tok AS (SELECT DISTINCT doc_id, tk FROM (
       |    ${d.explodeSelect("doc_id", "documents", F.tokens(d, "text"), "tk")}) e),
       |idx AS (SELECT tk, ${d.sort(d.arrayAgg("doc_id"))} AS ps FROM tok GROUP BY tk)
       |SELECT tk, CAST(${d.len("ps")} AS BIGINT) AS df,
       |  ${d.joinWs(d.transform(d.seq("1", d.len("ps")), "i", s"CAST($delta AS STRING)"))} AS deltas
       |FROM idx""".stripMargin
  }

  /** SPLIT-LEAKAGE AUDIT: near-duplicate pairs that CROSS the train/val/
    * test content-hash split — the eval-contamination check a pipeline
    * runs before trusting held-out metrics (a near-dup of a training doc
    * in the test split silently inflates them). Candidates from the
    * winnowing fingerprint join (bucket-bounded); split = the same
    * content-hash buckets as corpus_split_hash.
    */
  private def splitOf(d: Dialect): String = {
    val bucket = s"(${F.strHash(d, "text")} % 100)"
    s"""SELECT doc_id, CASE WHEN $bucket < 90 THEN 'train'
       |  WHEN $bucket < 95 THEN 'val' ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  private def splitLeakageSelect(fpsTable: String, d: Dialect): String =
    s"""pairs AS (SELECT a.doc_id AS u, b.doc_id AS v,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM $fpsTable a JOIN $fpsTable b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2),
       |sp AS (${splitOf(d)})
       |SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, n_shared,
       |  su.split AS split_u, sv.split AS split_v
       |FROM pairs JOIN sp su ON su.doc_id = u JOIN sp sv ON sv.doc_id = v
       |WHERE su.split <> sv.split""".stripMargin

  private def corpusSplitLeakageDef: QueryDef =
    QueryDef("corpus_split_leakage",
      s"""WITH ${winnowCtes(DuckDialect)},
         |${splitLeakageSelect("fps", DuckDialect)}""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      Stage.view("graft_leak_fps", s.sql(
        s"WITH ${winnowCtes(SparkDialect)} SELECT doc_id, fp FROM fps"))
      s.sql(s"WITH ${splitLeakageSelect("graft_leak_fps", SparkDialect)}")
    }

  /** One BPE TRAINING STEP: corpus-wide adjacent-symbol-pair counts over
    * the character stream of every token occurrence, ranked for the next
    * merge — the inner loop of byte-pair-encoding tokenizer training
    * (each round merges the top pair and recounts; this gate pins the
    * counting round, the part that touches the whole corpus). Pairs are
    * 2-char substrings via an array lambda — no per-character explode
    * reaches the shuffle: the map-side combine collapses each partition
    * to at most |alphabet|² rows, so the exchange is O(distinct pairs)
    * regardless of corpus size, and the final rank orders a tiny
    * aggregated relation. Deterministic (count desc, pair asc, top 20).
    */
  private def textBpePairs(d: Dialect): String = {
    val pairs = d.transform(d.seq("1", "length(t) - 1"), "i", "substr(t, i, 2)")
    s"""WITH tok AS (${d.explodeSelect("doc_id", "documents", F.tokens(d, "text"), "t")}),
       |pr AS (${d.explodeSelect("doc_id", "tok", pairs, "pair")}),
       |cnt AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pr GROUP BY pair)
       |SELECT pair, n, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rnk
       |  FROM cnt) r WHERE rnk <= 20""".stripMargin
  }

  /** Full BPE TRAINER (M merge rounds), fully declarative — one CTE chain
    * both engines run verbatim, no driver loop. The corpus collapses to the
    * DISTINCT-word frequency table first (the classic trainer's move: merge
    * decisions depend only on (word, freq), so all sequence rewriting is
    * vocabulary-bounded, not corpus-bounded). Each round: (1) adjacent-pair
    * counts via one LEAD window, f-weighted; (2) global argmax pair — a
    * 1-row CTE consumed as an uncorrelated scalar subquery (no join node);
    * (3) greedy left-to-right merge application, relationally: matches that
    * are CONSECUTIVE in sequence order form runs (rn − rank-among-matches
    * groups them), and taking the odd offsets within each run IS the greedy
    * leftmost-first tiling (a merge consumes its right neighbor, so the
    * next legal match is 2 away); (4) rewrite = selected row becomes the
    * merged symbol, its successor row is dropped (LAG gate). Every window
    * partitions by word — one vocabulary-sized exchange feeds the whole
    * chain; the only corpus-wide work is the initial token count.
    */
  private val BpeRounds = 4

  /** One LEAD pass: each symbol row gains its in-sequence successor. */
  private def bpePairScan(prev: String): String =
    s"""SELECT w, f, pos, sym,
       |  LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM $prev""".stripMargin

  /** f-weighted adjacent-pair counts over a pair-scan relation. The pair
    * KEY is delimited (sym, chr(1), nxt) — bare concatenation would merge
    * the counts of distinct pairs with equal concatenation (("ab","c") vs
    * ("a","bc") after round 1), picking merges no true BPE trainer would.
    * Symbols never contain chr(1) (they come from document text), so the
    * delimited key is injective; the delimiter is stripped only in the
    * EMITTED pair string and the rewritten symbol.
    */
  private def bpePairCount(p: String): String =
    s"""SELECT sym || chr(1) || nxt AS pair, SUM(f) AS cnt FROM $p
       |  WHERE nxt IS NOT NULL GROUP BY sym || chr(1) || nxt""".stripMargin

  /** Greedy leftmost merge application — IDENTICAL text on both sides
    * (the Spark runner and the DuckDB oracle differ only in the table the
    * scalar `topRef` reads). Matches that are CONSECUTIVE in sequence
    * order form runs (rn − rank-among-matches groups them); odd offsets
    * within a run win, which IS the greedy leftmost tiling (a merge
    * consumes its right neighbor, so the next legal match is 2 away).
    * Selected rows become the merged symbol; their successors drop (LAG
    * gate). An empty argmax relation yields mt = 0 everywhere — a no-op
    * round on both engines.
    */
  private def bpeMergeSelect(p: String, topRef: String): String =
    s"""SELECT w, f, pos,
       |  CASE WHEN sel = 1 THEN sym || nxt ELSE sym END AS sym
       |FROM (SELECT w, f, pos, sym, nxt, sel,
       |    LAG(sel) OVER (PARTITION BY w ORDER BY rn) AS psel
       |  FROM (SELECT w, f, pos, sym, nxt, rn, CASE WHEN mt = 1 AND
       |        ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY rn) % 2 = 1
       |      THEN 1 ELSE 0 END AS sel
       |    FROM (SELECT w, f, pos, sym, nxt, rn, mt, CASE WHEN mt = 1
       |        THEN rn - ROW_NUMBER() OVER (PARTITION BY w, mt ORDER BY rn)
       |        END AS grp
       |      FROM (SELECT w, f, pos, sym, nxt,
       |          ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS rn,
       |          CASE WHEN nxt IS NOT NULL AND sym || chr(1) || nxt = $topRef
       |            THEN 1 ELSE 0 END AS mt
       |        FROM $p) bx) by) bz) bq
       |WHERE COALESCE(psel, 0) = 0""".stripMargin

  /** Corpus → distinct-word freqs → positional char rows (the classic
    * trainer's move: merge decisions depend only on (word, freq), so all
    * sequence rewriting is VOCABULARY-bounded, not corpus-bounded; the
    * only corpus-wide work is the initial token count).
    */
  private def bpePrefix(d: Dialect): String = {
    val chars = d.transform(d.seq("1", "length(w)"), "i", "substr(w, i, 1)")
    val s0 =
      if (d == SparkDialect) s"SELECT w, f, posexplode($chars) AS (pos, sym) FROM wf"
      else s"SELECT w, f, unnest(range(length(w))) AS pos, unnest($chars) AS sym FROM wf"
    s"""tok AS (${d.explodeSelect("doc_id", "documents", F.tokens(d, "text"), "t")}),
       |wf AS (SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY t),
       |s0 AS ($s0)""".stripMargin
  }

  /** The oracle's single-statement round chain (DuckDB materializes shared
    * CTEs; Spark would inline them exponentially — the Spark side runs
    * [[bpeSparkChain]] instead, one localCheckpoint per round over the
    * SAME round SQL).
    */
  private def bpeOracleCtes(d: Dialect): String = {
    val rounds = (1 to BpeRounds).map { r =>
      val prev = if (r == 1) "s0" else s"s${r - 1}"
      s"""p$r AS (${bpePairScan(prev)}),
         |t$r AS (SELECT pair, cnt FROM (${bpePairCount(s"p$r")}) c$r
         |  ORDER BY cnt DESC, pair LIMIT 1),
         |s$r AS (${bpeMergeSelect(s"p$r", s"(SELECT pair FROM t$r)")})""".stripMargin
    }
    s"${bpePrefix(d)},\n${rounds.mkString(",\n")}"
  }

  /** Spark runner: the same rounds, executed iteratively — each round is
    * one vocabulary-sized window job (localCheckpoint'd, O(1) lineage) plus
    * a 1-row argmax collect (driver-side model state, the kmeans/IVF
    * precedent). Returns the post-merge symbol relation and the learned
    * merge table.
    */
  private def bpeSparkChain(s: SparkSession, dir: String): (DataFrame, Seq[(Long, String, Long)]) = {
    Stage.tables(s, dir, "documents")
    // each round reads the current symbol relation as graft_bpe_prev
    var cur = Stage.view("graft_bpe_prev",
      s.sql(s"WITH ${bpePrefix(SparkDialect)} SELECT w, f, pos, sym FROM s0"))
    val merges = Seq.newBuilder[(Long, String, Long)]
    for (r <- 1 to BpeRounds) {
      Stage.view("graft_bpe_p", s.sql(bpePairScan("graft_bpe_prev")))
      val top = s.sql(s"SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM (${bpePairCount("graft_bpe_p")}) c ORDER BY cnt DESC, pair LIMIT 1")
        .collect()
      if (top.nonEmpty) {
        // merges table carries the stripped pair; the MATCH key (temp view)
        // keeps the chr(1) delimiter
        merges += ((r.toLong, top(0).getString(0).replace("\u0001", ""), top(0).getLong(1)))
        import s.implicits._
        Seq(top(0).getString(0)).toDF("pair")
          .createOrReplaceTempView("graft_bpe_top")
        cur = Stage.view("graft_bpe_prev",
          s.sql(bpeMergeSelect("graft_bpe_p", "(SELECT pair FROM graft_bpe_top)")))
      }
    }
    (cur, merges.result())
  }

  /** Full BPE TRAINER (M merge rounds): the learned merge table — what a
    * BPE trainer ships: (step, merged pair, f-weighted count at selection
    * time). Oracle = one CTE chain; Spark = the iterative runner over the
    * same round SQL.
    */
  /** UNIGRAM-LM TOKENIZER, one hard-EM round (Kudo, arXiv:1804.10959 —
    * the SentencePiece default; trainer #2 beside the BPE chain): seed
    * vocabulary = every 1–4-char substring of the (≤ 8-char) word
    * vocabulary, all single chars kept for coverage plus the top-64
    * multi-char pieces; piece cost = log2μ(T) − log2μ(count) in exact
    * fixed-point (16 fractional bits, [[graft.functions.Formulas.log2Micro]]
    * — no libm log anywhere); E-step = per-word VITERBI segmentation as a
    * bounded relational DP (8 min-cost relax rounds over the in-vocab
    * occurrence edges, then an 8-round deterministic backtrack walk —
    * ties by (piece length, piece)); M-step = piece recount over the
    * chosen segmentations, token-frequency-weighted.
    *
    * Both engines run the IDENTICAL round SQL (the text_bpe_train
    * discipline): the oracle unrolls it as one CTE chain, Spark runs it
    * as an iterative localCheckpoint loop — each DP round references the
    * previous one TWICE (keep + relax), so a single inlined statement
    * doubles the plan per round (2^8 subtrees; measured: analysis alone
    * stalls the driver). Integer-exact throughout, so counts, costs, and
    * chosen segmentations match bit-for-bit. 100 TB shape: every relation
    * after `toks` is keyed by the DISTINCT-WORD vocabulary
    * (corpus-size-independent after the one token-count aggregate); DP
    * state is words × ≤ 9 positions; the corpus is touched exactly once.
    */
  private def unigramHead(d: Dialect): String = {
    val tok = d.explodeSelect("doc_id", "documents", F.tokens(d, "text"), "w")
    s"""toks AS ($tok),
       |wf AS (${unigramWfSel("toks")}),
       |${unigramSubCtes(d, "wf")},
       |${unigramPcostCtes(d)},
       |occ AS (${unigramOccSel("sub", "pcost")})""".stripMargin
  }

  /** Head fragments, ref-parameterized so the Spark runner can stage each
    * relation INCREMENTALLY over the previous stage's view instead of
    * re-deriving the whole head per materialization (measured: the four
    * head checkpoints were 2.7 s of text_unigram_train's 4.9 s at sf0.1
    * because each re-ran tokenize → wf → sub from scratch). Same text,
    * same relations, bit-identical results. */
  private def unigramWfSel(toksRef: String): String =
    s"""SELECT w, CAST(COUNT(*) AS BIGINT) AS f,
       |    CAST(MAX(length(w)) AS BIGINT) AS wlen
       |  FROM $toksRef WHERE length(w) >= 1 AND length(w) <= 8 GROUP BY w""".stripMargin

  private def unigramSubCtes(d: Dialect, wfRef: String): String =
    s"""ii AS (${F.intRows(d, 8, "i0")}),
       |ll AS (${F.intRows(d, 4, "l0")}),
       |sub AS (SELECT wf.w, wf.f, ii.i0 + 1 AS i, ll.l0 + 1 AS l,
       |    substring(wf.w, ii.i0 + 1, ll.l0 + 1) AS p
       |  FROM $wfRef wf CROSS JOIN ii CROSS JOIN ll
       |  WHERE ii.i0 + ll.l0 + 1 <= wf.wlen)""".stripMargin

  private def unigramPcostCtes(d: Dialect): String =
    s"""pc AS (SELECT p, CAST(SUM(f) AS BIGINT) AS c FROM sub GROUP BY p),
       |voc AS (SELECT p, c FROM pc WHERE length(p) = 1
       |  UNION ALL
       |  SELECT p, c FROM (SELECT p, c,
       |      ROW_NUMBER() OVER (ORDER BY c DESC, p) AS rn
       |    FROM pc WHERE length(p) > 1 AND c >= 2) vm WHERE rn <= 64),
       |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM voc),
       |pcost AS (SELECT voc.p, voc.c,
       |    CAST(${F.log2Micro(d, "tt.t")} - ${F.log2Micro(d, "voc.c")}
       |      AS BIGINT) AS pcost
       |  FROM voc CROSS JOIN tt)""".stripMargin

  private def unigramOccSel(subRef: String, pcostRef: String): String =
    s"""SELECT s.w, CAST(s.i - 1 AS BIGINT) AS j0,
       |    CAST(s.i + s.l - 1 AS BIGINT) AS j1, CAST(s.l AS BIGINT) AS l,
       |    s.p, c.pcost
       |  FROM (SELECT DISTINCT w, i, l, p FROM $subRef) s
       |  JOIN $pcostRef c ON s.p = c.p""".stripMargin

  /** One min-cost relax round of the Viterbi DP — identical text both
    * engines; `prev`/`occRef` name the previous-round and edge relations. */
  private def uniDpRound(prev: String, occRef: String): String =
    s"""SELECT w, j, MIN(cost) AS cost FROM (
       |    SELECT w, j, cost FROM $prev
       |    UNION ALL
       |    SELECT o.w, o.j1 AS j, d.cost + o.pcost AS cost
       |    FROM $prev d JOIN $occRef o ON o.w = d.w AND o.j0 = d.j) u
       |  GROUP BY w, j""".stripMargin

  /** The optimal-edge relation + per-position deterministic backpointer. */
  private def uniBedge(dpRef: String, occRef: String): String =
    s"""SELECT w, j0, j1, l, p FROM (SELECT e.w, e.j0, e.j1, e.l, e.p,
       |    ROW_NUMBER() OVER (PARTITION BY e.w, e.j1 ORDER BY e.l, e.p) AS rn
       |  FROM (SELECT o.w, o.j0, o.j1, o.l, o.p
       |    FROM $occRef o
       |    JOIN $dpRef a ON a.w = o.w AND a.j = o.j0
       |    JOIN $dpRef b ON b.w = o.w AND b.j = o.j1
       |    WHERE a.cost + o.pcost = b.cost) e) r
       |WHERE rn = 1""".stripMargin

  /** One backtrack step: follow the chosen edge into the current position. */
  private def uniWalkRound(prev: String, bedgeRef: String): String =
    s"""SELECT b.w, b.j0 AS pos, b.p
       |  FROM $prev k JOIN $bedgeRef b ON b.w = k.w AND b.j1 = k.pos
       |  WHERE k.pos > 0""".stripMargin

  /** The full DuckDB-side chain: head + 8 unrolled DP rounds + backtrack
    * + recount, ending at relations `pcost`, `segc`, `newc`, `toks`. */
  private def unigramOracleCtes(d: Dialect): String = {
    val dpRounds = (1 to 8).map(r =>
      s"dp$r AS (${uniDpRound(s"dp${r - 1}", "occ")})").mkString(",\n")
    val wkRounds = (1 to 8).map(r =>
      s"wk$r AS (${uniWalkRound(s"wk${r - 1}", "bedge")})").mkString(",\n")
    val segUnion = (1 to 8).map(r => s"SELECT w, p FROM wk$r")
      .mkString("\n  UNION ALL ")
    s"""${unigramHead(d)},
       |dp0 AS (SELECT w, CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT) AS cost
       |  FROM wf),
       |$dpRounds,
       |bedge AS (${uniBedge("dp8", "occ")}),
       |wk0 AS (SELECT w, wlen AS pos FROM wf),
       |$wkRounds,
       |seg AS ($segUnion),
       |segc AS (SELECT w, p, CAST(COUNT(*) AS BIGINT) AS k FROM seg
       |  GROUP BY w, p),
       |newc AS (SELECT sc.p, CAST(SUM(sc.k * wf.f) AS BIGINT) AS em_count
       |  FROM segc sc JOIN wf ON wf.w = sc.w GROUP BY sc.p)""".stripMargin
  }

  private def uniTrainTail(pcostRef: String, segcRef: String,
      wfRef: String): String =
    s"""SELECT c2.p AS piece, c2.c AS seed_count,
       |  CAST(COALESCE(n.em_count, 0) AS BIGINT) AS em_count,
       |  c2.pcost AS cost_mu
       |FROM $pcostRef c2 LEFT JOIN
       |  (SELECT sc.p, CAST(SUM(sc.k * wf.f) AS BIGINT) AS em_count
       |   FROM $segcRef sc JOIN $wfRef wf ON wf.w = sc.w GROUP BY sc.p) n
       |  ON n.p = c2.p""".stripMargin

  private def uniEncodeTail(segcRef: String, toksRef: String): String =
    s"""WITH pw AS (SELECT w, CAST(SUM(k) AS BIGINT) AS n_pieces,
       |    CAST(SUM(k * length(p)) AS BIGINT) AS n_chars
       |  FROM $segcRef GROUP BY w),
       |dt AS (SELECT doc_id, w FROM $toksRef
       |  WHERE length(w) >= 1 AND length(w) <= 8)
       |SELECT CAST(dt.doc_id AS BIGINT) AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(pw.n_pieces) AS BIGINT) AS n_subwords,
       |  CAST(SUM(pw.n_chars) AS BIGINT) AS n_chars
       |FROM dt JOIN pw ON pw.w = dt.w
       |GROUP BY dt.doc_id""".stripMargin

  /** Spark-side runner. Registers graft_uni_{toks, wf, pcost, segc} temp
    * views for the gate tails — the same VALUES as the oracle's CTE chain,
    * via a staged head (round-13) and min-plus path doubling for the DP +
    * backtrack (round-14, [[uniDpWalkViews]]). */
  private[queries] def unigramViews(s: SparkSession, dir: String): Unit = {
    val d = SparkDialect
    Stage.tables(s, dir, "documents")
    // INCREMENTAL head staging (round-13): each relation builds on the
    // previous stage's checkpointed view — the old form re-ran the whole
    // head (tokenize → wf → sub → …) inside every one of the four head
    // materializations (2.7 s of train's 4.9 s at sf0.1). Same per-relation
    // SQL text as the oracle's CTEs.
    val tok = d.explodeSelect("doc_id", "documents", F.tokens(d, "text"), "w")
    Stage.view("graft_uni_toks", s.sql(s"SELECT doc_id, w FROM ($tok) toks"))
    Stage.view("graft_uni_wf", s.sql(unigramWfSel("graft_uni_toks")))
    // Round-14 head refinement (guide §2.4: eliminate recomputation): the
    // round-13 head still derived the substring explosion `sub` twice (once
    // inside the pcost statement, once inside occ), and the piece-count
    // aggregate `pc` twice more within the pcost statement (`voc`
    // references pc twice and Catalyst inlines CTEs per reference) —
    // measured 1.2-1.4 s + 0.4 s of the head's ~2.2 s at sf0.1. Stage sub
    // and pc once each, and compute the vocabulary total as a global
    // window (SUM(c) OVER ()) instead of the oracle's CROSS JOIN over a
    // separate tt aggregate, so `voc` is evaluated once — SUM is
    // associative, so tt and therefore pcost are the identical integers.
    Stage.view("graft_uni_sub",
      s.sql(s"WITH ${unigramSubCtes(d, "graft_uni_wf")} SELECT w, f, i, l, p FROM sub"))
    Stage.view("graft_uni_pc",
      s.sql("SELECT p, CAST(SUM(f) AS BIGINT) AS c FROM graft_uni_sub GROUP BY p"))
    Stage.view("graft_uni_pcost",
      s.sql(s"""WITH voc AS (SELECT p, c FROM graft_uni_pc WHERE length(p) = 1
          |  UNION ALL
          |  SELECT p, c FROM (SELECT p, c,
          |      ROW_NUMBER() OVER (ORDER BY c DESC, p) AS rn
          |    FROM graft_uni_pc WHERE length(p) > 1 AND c >= 2) vm WHERE rn <= 64)
          |SELECT p, c, CAST(${F.log2Micro(d, "tt")} - ${F.log2Micro(d, "c")}
          |  AS BIGINT) AS pcost
          |FROM (SELECT p, c, SUM(c) OVER () AS tt FROM voc) v""".stripMargin))
    Stage.view("graft_uni_occ", s.sql(unigramOccSel("graft_uni_sub", "graft_uni_pcost")))
    uniDpWalkViews(s, "graft_uni_occ", "graft_uni_wf", "graft_uni")
  }

  /** DP + backtrack by MIN-PLUS PATH DOUBLING (round-14, guide §2: fewer
    * passes/barriers). The oracle unrolls 8 relax rounds
    * (dp_r = min(dp_{r-1}, dp_{r-1} ⋈ occ)) and 8 walk rounds; with word
    * length ≤ 8 every segmentation path has ≤ 8 edges of length ≥ 1, so
    * dp8(w, j) is the min-cost path 0→j over the occ edge set —
    * computable by three min-plus edge squarings
    * (E₂ₖ(a,b) = MIN(Eₖ(a,b), MIN_m Eₖ(a,m)+Eₖ(m,b)); min-plus path
    * composition is associative, so Eₖ covers paths of 1..k edges and the
    * integers are identical to the relax recurrence). The backtrack's
    * traversed-edge multiset equals the chosen-edge relation (`bedge`,
    * one edge per (w, j1)) joined to the ≤8-step reachability closure of
    * wlen under those edges (three reachability doublings): pos strictly
    * decreases along the walk, so every node is visited at most once and
    * each traversed edge contributes exactly one (w, p) row, exactly like
    * the 8 unrolled walk rounds. 19 sequential checkpoint barriers
    * (dp0 + 8 relax + bedge + wk0 + 8 walks) become 9 (3 squarings + dp +
    * bedge + 3 closures + segc) — measured ~3.0 s of text_unigram_train's
    * 6.4 s at sf0.1 was these barriers. NOTE: each doubling stays one
    * barrier — composing two inline via CTEs trips a Catalyst
    * constraint-rewrite bug on stacked unions (UnionBase.rewriteConstraints
    * "key not found") in Spark 4.1.
    * Reads occView/wfView; registers `${out}_{e2,e4,e8,dp,bedge,r2,r4,r8,segc}`.
    */
  private def uniDpWalkViews(s: SparkSession, occView: String,
      wfView: String, out: String): Unit = {
    def square(eRef: String): String =
      s"""SELECT w, j0, j1, MIN(cost) AS cost FROM (
         |    SELECT w, j0, j1, cost FROM $eRef
         |    UNION ALL
         |    SELECT a.w, a.j0, b.j1 AS j1, a.cost + b.cost AS cost
         |    FROM $eRef a JOIN $eRef b ON b.w = a.w AND b.j0 = a.j1) u
         |  GROUP BY w, j0, j1""".stripMargin
    // E1 = the occ edges (unique per (w, j0, j1): (i, l) ↔ (j0, j1) is a
    // bijection) — a pure projection over the checkpointed occ view, so a
    // plain temp view, no barrier.
    s.sql(s"SELECT w, j0, j1, pcost AS cost FROM $occView")
      .createOrReplaceTempView(s"${out}_e1")
    Stage.view(s"${out}_e2", s.sql(square(s"${out}_e1")))
    Stage.view(s"${out}_e4", s.sql(square(s"${out}_e2")))
    Stage.view(s"${out}_e8", s.sql(square(s"${out}_e4")))
    // dp8: cost 0 at j = 0 (edges never end at 0: j1 ≥ 1), E8(0, j) else.
    Stage.view(s"${out}_dp", s.sql(s"""SELECT w, j, MIN(cost) AS cost FROM (
          |    SELECT w, CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT) AS cost
          |    FROM $wfView
          |    UNION ALL
          |    SELECT w, j1 AS j, cost FROM ${out}_e8 WHERE j0 = 0) u
          |  GROUP BY w, j""".stripMargin))
    Stage.view(s"${out}_bedge", s.sql(uniBedge(s"${out}_dp", occView)))
    def reach(rRef: String): String =
      s"""SELECT w, src, dst FROM (
         |    SELECT w, src, dst FROM $rRef
         |    UNION ALL
         |    SELECT a.w, a.src, b.dst AS dst FROM $rRef a JOIN $rRef b
         |      ON b.w = a.w AND b.src = a.dst) u
         |  GROUP BY w, src, dst""".stripMargin
    s.sql(s"SELECT w, j1 AS src, j0 AS dst FROM ${out}_bedge")
      .createOrReplaceTempView(s"${out}_r1")
    Stage.view(s"${out}_r2", s.sql(reach(s"${out}_r1")))
    Stage.view(s"${out}_r4", s.sql(reach(s"${out}_r2")))
    Stage.view(s"${out}_r8", s.sql(reach(s"${out}_r4")))
    // traversed edges = bedge at the path nodes {wlen} ∪ reach(wlen);
    // dst = 0 rows match no edge (j1 ≥ 1) — the walk's pos > 0 guard.
    Stage.view(s"${out}_segc", s.sql(s"""SELECT b.w, b.p, CAST(COUNT(*) AS BIGINT) AS k
          |FROM ${out}_bedge b JOIN (
          |    SELECT w, wlen AS pos FROM $wfView
          |    UNION ALL
          |    SELECT r.w, r.dst AS pos FROM ${out}_r8 r
          |    JOIN $wfView wf ON wf.w = r.w AND r.src = wf.wlen) n
          |  ON n.w = b.w AND n.pos = b.j1
          |GROUP BY b.w, b.p""".stripMargin))
  }

  /** DuckDB inlines every CTE per REFERENCE — the 8 self-referencing DP
    * rounds then expand 2^8 copies of the whole upstream tree (measured:
    * "Too many open files" from thousands of duplicated parquet scans).
    * Forcing each CTE MATERIALIZED makes the oracle evaluate the chain
    * once per relation, exactly like Spark's iterative runner. */
  private def duckMaterialized(sql: String): String =
    sql.replaceAll("""(\w+) AS \(""", "$1 AS MATERIALIZED (")

  /** ROUND-2 CTEs (hard-EM iteration 2): prune multi-char pieces the
    * round-1 Viterbi never chose (single chars always stay — coverage),
    * re-score costs from the EM counts (floored at 1 for kept-but-unused
    * coverage pieces), and re-run the identical DP + backtrack over the
    * surviving occurrence edges. Appended after [[unigramOracleCtes]];
    * occ2 derives from occ by an inner join on the pruned cost table. */
  private def unigramRound2Ctes(d: Dialect, occRef: String, wfRef: String,
      pcostRef: String, newcRef: String): String = {
    val dpRounds = (1 to 8).map(r =>
      s"dp${r}b AS (${uniDpRound(s"dp${r - 1}b", "occ2")})").mkString(",\n")
    val wkRounds = (1 to 8).map(r =>
      s"wk${r}b AS (${uniWalkRound(s"wk${r - 1}b", "bedge2")})").mkString(",\n")
    val segUnion = (1 to 8).map(r => s"SELECT w, p FROM wk${r}b")
      .mkString("\n  UNION ALL ")
    s"""voc2 AS (SELECT pc.p,
       |    GREATEST(COALESCE(n.em_count, 0), 1) AS c2,
       |    COALESCE(n.em_count, 0) AS emc
       |  FROM $pcostRef pc LEFT JOIN $newcRef n ON n.p = pc.p
       |  WHERE length(pc.p) = 1 OR COALESCE(n.em_count, 0) > 0),
       |tt2 AS (SELECT CAST(SUM(c2) AS BIGINT) AS t FROM voc2),
       |pcost2 AS (SELECT voc2.p, voc2.c2, voc2.emc,
       |    CAST(${F.log2Micro(d, "tt2.t")} - ${F.log2Micro(d, "voc2.c2")}
       |      AS BIGINT) AS pcost
       |  FROM voc2 CROSS JOIN tt2),
       |occ2 AS (SELECT o.w, o.j0, o.j1, o.l, o.p, c.pcost
       |  FROM $occRef o JOIN pcost2 c ON c.p = o.p),
       |dp0b AS (SELECT w, CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT) AS cost
       |  FROM $wfRef),
       |$dpRounds,
       |bedge2 AS (${uniBedge("dp8b", "occ2")}),
       |wk0b AS (SELECT w, wlen AS pos FROM $wfRef),
       |$wkRounds,
       |seg2 AS ($segUnion),
       |segc2 AS (SELECT w, p, CAST(COUNT(*) AS BIGINT) AS k FROM seg2
       |  GROUP BY w, p),
       |newc2 AS (SELECT sc.p, CAST(SUM(sc.k * wf.f) AS BIGINT) AS em2_count
       |  FROM segc2 sc JOIN $wfRef wf ON wf.w = sc.w GROUP BY sc.p)"""
      .stripMargin
  }

  private def uniTrain2Tail(pcost2Ref: String, newc2Ref: String): String =
    s"""SELECT c2.p AS piece, c2.emc AS em1_count,
       |  CAST(COALESCE(n.em2_count, 0) AS BIGINT) AS em2_count,
       |  c2.pcost AS cost2_mu
       |FROM $pcost2Ref c2 LEFT JOIN $newc2Ref n ON n.p = c2.p"""
      .stripMargin

  /** Round-2 Spark runner: round 1's views, then the pruned/re-scored
    * model and a second DP + backtrack via the same path-doubling runner
    * ([[uniDpWalkViews]]). Registers graft_uni2_{pcost, segc}. */
  private[queries] def unigram2Views(s: SparkSession, dir: String): Unit = {
    unigramViews(s, dir)
    Stage.view("graft_uni_newc", s.sql(
      """SELECT sc.p, CAST(SUM(sc.k * wf.f) AS BIGINT) AS em_count
        |FROM graft_uni_segc sc JOIN graft_uni_wf wf ON wf.w = sc.w
        |GROUP BY sc.p""".stripMargin))
    val d = SparkDialect
    // vocabulary total as a window, like round 1's pcost — tt2 is the same
    // integer by SUM associativity, and voc2 is evaluated once.
    Stage.view("graft_uni2_pcost", s.sql(
      s"""WITH voc2 AS (SELECT pc.p,
         |    GREATEST(COALESCE(n.em_count, 0), 1) AS c2,
         |    COALESCE(n.em_count, 0) AS emc
         |  FROM graft_uni_pcost pc
         |  LEFT JOIN graft_uni_newc n ON n.p = pc.p
         |  WHERE length(pc.p) = 1 OR COALESCE(n.em_count, 0) > 0)
         |SELECT p, c2, emc,
         |  CAST(${F.log2Micro(d, "tt")} - ${F.log2Micro(d, "c2")}
         |    AS BIGINT) AS pcost
         |FROM (SELECT p, c2, emc, SUM(c2) OVER () AS tt FROM voc2) v""".stripMargin))
    Stage.view("graft_uni2_occ", s.sql(
      """SELECT o.w, o.j0, o.j1, o.l, o.p, c.pcost
        |FROM graft_uni_occ o JOIN graft_uni2_pcost c ON c.p = o.p""".stripMargin))
    uniDpWalkViews(s, "graft_uni2_occ", "graft_uni_wf", "graft_uni2")
  }

  private def textUnigramEm2Def: QueryDef =
    QueryDef("text_unigram_em2",
      duckMaterialized(
        s"""WITH ${unigramOracleCtes(DuckDialect)},
           |${unigramRound2Ctes(DuckDialect, "occ", "wf", "pcost", "newc")}
           |${uniTrain2Tail("pcost2", "newc2")}""".stripMargin)) { (s, dir) =>
      unigram2Views(s, dir)
      s.sql(uniTrain2Tail("graft_uni2_pcost",
        """(SELECT sc.p, CAST(SUM(sc.k * wf.f) AS BIGINT) AS em2_count
          |FROM graft_uni2_segc sc JOIN graft_uni_wf wf ON wf.w = sc.w
          |GROUP BY sc.p)""".stripMargin))
    }

  private def textUnigramTrainDef: QueryDef =
    QueryDef("text_unigram_train",
      duckMaterialized(
        s"""WITH ${unigramOracleCtes(DuckDialect)}
           |${uniTrainTail("pcost", "segc", "wf")}""".stripMargin)) { (s, dir) =>
      unigramViews(s, dir)
      s.sql(uniTrainTail("graft_uni_pcost", "graft_uni_segc", "graft_uni_wf"))
    }

  private def textUnigramEncodeDef: QueryDef =
    QueryDef("text_unigram_encode",
      duckMaterialized(
        s"""WITH ${unigramOracleCtes(DuckDialect)},
           |${uniEncodeTail("segc", "toks").stripPrefix("WITH ")}"""
          .stripMargin)) { (s, dir) =>
      unigramViews(s, dir)
      s.sql(uniEncodeTail("graft_uni_segc", "graft_uni_toks"))
    }

  private def textBpeTrainDef: QueryDef = {
    val steps = (1 to BpeRounds)
      .map(r => s"SELECT $r AS step, replace(pair, chr(1), '') AS pair, cnt FROM t$r")
      .mkString("\n  UNION ALL ")
    QueryDef("text_bpe_train",
      s"""WITH ${bpeOracleCtes(DuckDialect)}
         |SELECT CAST(step AS BIGINT) AS step, pair, CAST(cnt AS BIGINT) AS cnt
         |FROM ($steps) m""".stripMargin) { (s, dir) =>
      val (_, merges) = bpeSparkChain(s, dir)
      import s.implicits._
      merges.toDF("step", "pair", "cnt")
    }
  }

  /** BPE ENCODE via the trained merges: a word's final segmentation applies
    * to every occurrence (BPE is word-internal), so encoding = count the
    * post-round-M symbol rows per distinct word and map back through the
    * token relation — no per-occurrence rewriting. LEFT JOIN keeps
    * zero-length tokens (no symbol rows) at 0 subwords.
    */
  private def bpeEncodeSelect(d: Dialect, segSrc: String): String =
    s"""seg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sym,
       |    CAST(SUM(length(sym)) AS BIGINT) AS n_char
       |  FROM $segSrc GROUP BY w)
       |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(COALESCE(seg.n_sym, 0)) AS BIGINT) AS n_bpe,
       |  CAST(SUM(COALESCE(seg.n_sym, 0)) AS DOUBLE)
       |    / SUM(COALESCE(seg.n_char, 0)) AS syms_per_char
       |FROM tok t LEFT JOIN seg ON t.t = seg.w
       |GROUP BY t.doc_id""".stripMargin

  private def textBpeEncodeDef: QueryDef =
    QueryDef("text_bpe_encode",
      s"""WITH ${bpeOracleCtes(DuckDialect)},
         |${bpeEncodeSelect(DuckDialect, s"s$BpeRounds")}""".stripMargin) { (s, dir) =>
      val (fin, _) = bpeSparkChain(s, dir)
      fin.createOrReplaceTempView("graft_bpe_final")
      s.sql(
        s"""WITH tok AS (${SparkDialect.explodeSelect("doc_id", "documents",
             F.tokens(SparkDialect, "text"), "t")}),
           |${bpeEncodeSelect(SparkDialect, "graft_bpe_final")}""".stripMargin)
    }

  /** HASHING-TRICK DOCUMENT FEATURIZER (the HashingVectorizer /
    * fastText-bucket move): tokens hash into B=16 buckets, bucket counts
    * L2-normalize into a sparse document vector — embedding GENERATION
    * from raw text with no vocabulary state at all (the property that
    * matters at 100 TB: no dictionary build, no broadcast, schema fixed
    * regardless of corpus). Output is the sparse (doc, bucket, weight)
    * relation; norm arithmetic stays exact-integer until one final
    * sqrt+divide (bit-identical across engines).
    */
  private def embHashFeatures(d: Dialect): String =
    s"""WITH tok AS (${d.explodeSelect("doc_id", "documents", F.tokens(d, "text"), "t")}),
       |b AS (SELECT doc_id, (${F.strHashCheap(d, "t")}) % 16 AS bkt FROM tok),
       |c AS (SELECT doc_id, bkt, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM b GROUP BY doc_id, bkt),
       |n AS (SELECT doc_id, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS nrm
       |  FROM c GROUP BY doc_id)
       |SELECT CAST(c.doc_id AS BIGINT) AS doc_id, CAST(bkt AS BIGINT) AS bkt,
       |  CAST(cnt AS DOUBLE) / nrm AS weight
       |FROM c JOIN n ON c.doc_id = n.doc_id""".stripMargin

  /** NEGATIVE SAMPLING for contrastive training: per anchor vector, 3
    * deterministic negatives — candidates drawn from the anchor's HASH
    * BUCKET (16 buckets over vec_id) with a DIFFERENT label, ranked by a
    * pairwise mixing hash. The bucket join is the scale move (the batch
    * analog of in-batch negatives): candidate pairs are bucket-bounded,
    * never the N² cross join, and the per-anchor top-3 is one rank window
    * (WindowGroupLimit caps it map-side). Pure multiplicative integer
    * hashing (Knuth constant mod the Mersenne prime) — no string casts,
    * bit-identical across engines; anchors whose bucket holds no
    * different-label candidate simply emit nothing (re-bucket or widen B
    * in production).
    */
  private def embNegativeSample(d: Dialect): String =
    s"""WITH v AS (SELECT vec_id, label,
       |    (vec_id * 2654435761) % 2147483647 % 16 AS bkt FROM embeddings),
       |cand AS (SELECT a.vec_id AS anchor, b.vec_id AS neg,
       |    (a.vec_id * 2654435761 + b.vec_id * 40503) % 2147483647 AS h
       |  FROM v a JOIN v b ON a.bkt = b.bkt AND a.label <> b.label)
       |SELECT CAST(anchor AS BIGINT) AS anchor, CAST(neg AS BIGINT) AS neg,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM (SELECT anchor, neg,
       |    ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY h, neg) AS rnk
       |  FROM cand) r WHERE rnk <= 3""".stripMargin

  /** HARD-NEGATIVE MINING (round-9): for each anchor vector, the top-3
    * nearest DIFFERENT-label vectors by cosine — the contrastive-training
    * prep step that upgrades [[embNegativeSample]]'s RANDOM negatives to
    * the hard negatives a retrieval/embedding trainer actually wants
    * (candidates near the decision boundary). Candidates come from the
    * anchor's LSH bucket under the AUTO-SCALED plane count
    * ([[autoPlanes]] — constant expected bucket width as the corpus
    * grows), so mining is a bucket equi-join, never all-pairs; ranking is
    * ROW_NUMBER per anchor over (cosine DESC, neg_id) — deterministic in
    * both engines because the cosine is the shared defined-order fold.
    *
    * 100 TB shape: one count job (the plane literal), one hash exchange on
    * the bucket key for the self-join, one hash exchange on anchor for the
    * top-k window. Same skeleton as sim_knn_graph_auto, which measured
    * linear per decade at 2k/20k/200k vectors.
    */
  private def embHardNegativesBody(d: Dialect, eRel: String): String = {
    val cos = s"CASE WHEN a.nrm * b.nrm > 0 THEN (${F.dot(d, "a.embedding", "b.embedding", DIM)}) / (a.nrm * b.nrm) ELSE 0.0 END"
    s"""cand AS (SELECT a.vec_id AS anchor, a.label AS label,
       |    b.vec_id AS neg_id, $cos AS score
       |  FROM $eRel a JOIN $eRel b ON a.bkt = b.bkt AND a.label <> b.label)
       |SELECT CAST(anchor AS BIGINT) AS anchor, CAST(label AS INTEGER) AS label,
       |  CAST(rnk AS BIGINT) AS rnk, CAST(neg_id AS BIGINT) AS neg_id, score
       |FROM (SELECT anchor, label, neg_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY score DESC, neg_id) AS rnk
       |  FROM cand) r WHERE rnk <= 3""".stripMargin
  }

  private def embHardNegativesDef: QueryDef =
    QueryDef("emb_hard_negatives",
      s"""WITH nv AS (SELECT $autoPlanesSql AS planes FROM embeddings),
         |e AS (SELECT vec_id, embedding, label,
         |    ${F.norm(DuckDialect, "embedding", DIM)} AS nrm,
         |    ${F.lshBucketExpr(DuckDialect, "embedding", DIM, "nv.planes")} AS bkt
         |  FROM embeddings CROSS JOIN nv),
         |${embHardNegativesBody(DuckDialect, "e")}""".stripMargin) { (s, dir) =>
      graft.functions.VectorExpressions.register(s)
      Stage.tables(s, dir, "embeddings")
      val planes = autoPlanes(s.table("embeddings").count())
      // hash ONCE (the sim_knn_graph_auto lesson): the self-join references
      // e twice — inlined, the per-row plane fold would run 2x
      Stage.view("graft_hn_e", s.sql(
        s"""SELECT vec_id, embedding, label,
           |  ${F.norm(SparkDialect, "embedding", DIM)} AS nrm,
           |  ${F.lshBucketExpr(SparkDialect, "embedding", DIM, planes.toString)} AS bkt
           |FROM embeddings""".stripMargin))
      s.sql(s"WITH ${embHardNegativesBody(SparkDialect, "graft_hn_e")}")
    }

  /** TRIPLET MINING (round-9): one training triplet per anchor — the
    * hardest POSITIVE (same label, MINIMUM cosine: the far positive that
    * stretches the margin) and the hardest NEGATIVE (different label,
    * MAXIMUM cosine: the impostor at the boundary), both drawn from the
    * anchor's auto-scaled LSH bucket. Anchors missing either side in
    * their bucket produce no triplet (both engines agree — inner join).
    * This is the batch-mining step of triplet-loss training (FaceNet,
    * arXiv:1503.03832 §3.2's "semi-hard" selection, here the hard
    * variant) — the consumer of [[embHardNegativesBody]]'s candidates
    * one level up: ready (anchor, positive, negative) rows.
    *
    * 100 TB shape: identical to emb_hard_negatives — one bucket
    * equi-join, two per-anchor windows over its output, one anchor-keyed
    * join of the two rank-1 relations.
    */
  private def embTripletMineBody(d: Dialect, eRel: String): String = {
    val cos = s"CASE WHEN a.nrm * b.nrm > 0 THEN (${F.dot(d, "a.embedding", "b.embedding", DIM)}) / (a.nrm * b.nrm) ELSE 0.0 END"
    s"""cand AS (SELECT a.vec_id AS anchor, a.label AS label,
       |    b.vec_id AS bid, b.label AS blabel, $cos AS score
       |  FROM $eRel a JOIN $eRel b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id),
       |pos AS (SELECT anchor, label, bid AS pos_id, score AS pos_score
       |  FROM (SELECT anchor, label, bid, score,
       |      ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY score ASC, bid) AS rn
       |    FROM cand WHERE blabel = label) r WHERE rn = 1),
       |neg AS (SELECT anchor, bid AS neg_id, score AS neg_score
       |  FROM (SELECT anchor, bid, score,
       |      ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY score DESC, bid) AS rn
       |    FROM cand WHERE blabel <> label) r WHERE rn = 1)
       |SELECT CAST(p.anchor AS BIGINT) AS anchor, CAST(p.label AS INTEGER) AS label,
       |  CAST(p.pos_id AS BIGINT) AS pos_id, p.pos_score,
       |  CAST(n.neg_id AS BIGINT) AS neg_id, n.neg_score
       |FROM pos p JOIN neg n ON n.anchor = p.anchor""".stripMargin
  }

  private def embTripletMineDef: QueryDef =
    QueryDef("emb_triplet_mine",
      s"""WITH nv AS (SELECT $autoPlanesSql AS planes FROM embeddings),
         |e AS (SELECT vec_id, embedding, label,
         |    ${F.norm(DuckDialect, "embedding", DIM)} AS nrm,
         |    ${F.lshBucketExpr(DuckDialect, "embedding", DIM, "nv.planes")} AS bkt
         |  FROM embeddings CROSS JOIN nv),
         |${embTripletMineBody(DuckDialect, "e")}""".stripMargin) { (s, dir) =>
      graft.functions.VectorExpressions.register(s)
      Stage.tables(s, dir, "embeddings")
      val planes = autoPlanes(s.table("embeddings").count())
      // hash ONCE (self-join references e twice)
      Stage.view("graft_tm_e", s.sql(
        s"""SELECT vec_id, embedding, label,
           |  ${F.norm(SparkDialect, "embedding", DIM)} AS nrm,
           |  ${F.lshBucketExpr(SparkDialect, "embedding", DIM, planes.toString)} AS bkt
           |FROM embeddings""".stripMargin))
      s.sql(s"WITH ${embTripletMineBody(SparkDialect, "graft_tm_e")}")
    }

  // -------------------------------------------------------- text analysis

  /** Token statistics: whitespace tokens + a BPE-ish subword count (maximal
    * consonant*-vowel+-consonant* runs) + mean token length.
    */
  private def textTokenStats(d: Dialect): String = {
    val toks = F.tokens(d, "text")
    val sumLen = d.reduce(d.transform("toks", "t", "CAST(length(t) AS BIGINT)"),
      "CAST(0 AS BIGINT)", "acc", "x", "acc + x")
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(${d.len("toks")} AS BIGINT) AS n_tokens,
       |  CAST(${d.regexpCount("text", "[bcdfghjklmnpqrstvwxyz]*[aeiou]+[bcdfghjklmnpqrstvwxyz]*")} AS BIGINT) AS n_subwords,
       |  CAST($sumLen AS DOUBLE) / ${d.len("toks")} AS mean_token_len
       |FROM (SELECT doc_id, text, $toks AS toks FROM documents) t""".stripMargin
  }

  /** GOPHER-style quality RULE BATTERY (round-9; Rae et al.,
    * arXiv:2112.11446 §A1.1): per-document boolean flags for the four
    * rules meaningful on a whitespace-token corpus — word count in
    * bounds, mean word length in [3, 10], ≥ 2 stopword occurrences, and
    * top-word frequency ≤ 10% (the repetition screen) — plus the AND of
    * all four as `gopher_pass`. Emitting per-RULE flags (not just the
    * verdict) is what production curation needs: rule-level pass rates
    * are the knobs you tune per source. All comparisons are exact
    * integer cross-multiplications (`3·wc ≤ chars`, `10·maxw ≤ wc`) —
    * no ratio doubles anywhere.
    *
    * Scale shape: one explode + two map-side-combinable aggregates
    * ((doc, word) counts, then per-doc rollup) — a word-count-shaped job,
    * embarrassingly parallel at any corpus size.
    */
  private def textGopherRules(d: Dialect): String = {
    val toks = F.tokens(d, "text")
    val stop = d.arrayLit(Seq("the", "a", "and", "of", "to", "in", "is"))
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |w AS (${d.explodeSelect("doc_id", "t", "toks", "w")}),
       |pw AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
       |ag AS (SELECT doc_id, SUM(c) AS wc, SUM(c * length(w)) AS chars,
       |    SUM(CASE WHEN ${d.contains(stop, "w")} THEN c ELSE 0 END) AS stops,
       |    MAX(c) AS maxw
       |  FROM pw GROUP BY doc_id)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(wc AS BIGINT) AS n_words,
       |  CAST(CASE WHEN wc >= 20 AND wc <= 80 THEN 1 ELSE 0 END AS BIGINT) AS r_word_count,
       |  CAST(CASE WHEN 3*wc <= chars AND chars <= 10*wc THEN 1 ELSE 0 END AS BIGINT) AS r_mean_word_len,
       |  CAST(CASE WHEN stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stopwords,
       |  CAST(CASE WHEN 10*maxw <= wc THEN 1 ELSE 0 END AS BIGINT) AS r_repetition,
       |  CAST(CASE WHEN wc >= 20 AND wc <= 80 AND 3*wc <= chars AND chars <= 10*wc
       |    AND stops >= 2 AND 10*maxw <= wc THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
       |FROM ag""".stripMargin
  }

  /** Quality scoring: char length, non-alphanumeric ratio, stopword ratio,
    * and a composite score — the standard cheap pre-training filters.
    */
  private def textQuality(d: Dialect): String = {
    val toks = F.tokens(d, "text")
    val stop = d.arrayLit(Seq("the", "a", "and", "of", "to", "in", "is"))
    val stopRatio =
      s"CAST(${d.len(d.filter("toks", "t", d.contains(stop, "t")))} AS DOUBLE) / ${d.len("toks")}"
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(${d.regexpCount("text", "[^a-z0-9 ]")} AS DOUBLE) / length(text) AS punct_ratio,
       |  $stopRatio AS stopword_ratio,
       |  CASE WHEN ${d.len("toks")} >= 20 AND ($stopRatio) >= 0.05
       |    THEN 1.0 ELSE 0.0 END AS quality_keep
       |FROM (SELECT doc_id, text, $toks AS toks FROM documents) t""".stripMargin
  }

  /** Language id by stopword-list voting (n-gram-free heuristic): score per
    * language = fraction of tokens in that language's marker list; argmax
    * with a fixed priority order for ties.
    */
  private def textLangid(d: Dialect): String = {
    val markers = Seq(
      "en" -> Seq("the", "a", "and", "of", "to"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "es" -> Seq("el", "la", "los", "y", "es"),
      "fr" -> Seq("le", "une", "les", "et", "est"),
      "zh" -> Seq("de0", "shi", "le0", "wo", "ni"))
    val scores = markers.map { case (lang, words) =>
      lang -> s"(CAST(${d.len(d.filter("toks", "t", d.contains(d.arrayLit(words), "t")))} AS DOUBLE) / ${d.len("toks")})"
    }
    val scoreCols = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n  ")
    val best = scores.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val pred = scores.map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }
      .mkString("CASE ", " ", " END")
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, $pred AS pred_lang,
       |  $best AS best_score
       |FROM (SELECT doc_id, $scoreCols
       |  FROM (SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM documents) t0) t""".stripMargin
  }

  /** Document fingerprints: full-content hash + min-shingle (winnowing-style)
    * hash — the cheap keys for incremental / cross-corpus dedup.
    */
  private def textFingerprint(d: Dialect, shSrc: Option[String] = None): String = {
    s"""WITH sh AS (${shSrc.getOrElse(shingleExplode(d))}),
       |v AS (SELECT s, ${F.strHash(d, "s")} AS h
       |  FROM (SELECT DISTINCT s FROM sh) vd),
       |minfp AS (SELECT sh.doc_id, MIN(v.h) AS min_shingle_fp
       |  FROM sh JOIN v ON sh.s = v.s GROUP BY sh.doc_id)
       |SELECT CAST(dd.doc_id AS BIGINT) AS doc_id,
       |  ${F.strHash(d, "dd.text")} AS content_fp,
       |  minfp.min_shingle_fp AS min_shingle_fp
       |FROM documents dd JOIN minfp ON dd.doc_id = minfp.doc_id""".stripMargin
  }

  private def textFingerprintDef: QueryDef =
    QueryDef("text_fingerprint", textFingerprint(DuckDialect)) { (s, dir) =>
      s.sql(textFingerprint(SparkDialect, Some(cachedShingles(s, dir))))
    }

  // ------------------------------------------ corpus preparation operators

  /** Text normalization: trim, collapse whitespace, strip ASCII chars
    * outside [a-z0-9 ] — the canonicalization pass before hashing/dedup.
    *
    * The strip is `translate()` over the enumerated ASCII complement (a
    * codegen'd char-table lookup, constant-folded once), NOT a `[^a-z0-9 ]`
    * regex — the regex pass was the slowest query in the round-1 suite (the
    * Java regex engine per row); only the whitespace collapse keeps a regex
    * (no non-regex equivalent exists). Non-ASCII codepoints pass through
    * (documents are ASCII; a production corpus adds an explicit unicode
    * folding stage first).
    */
  /** The normalize EXPRESSION over a `text` column: lowercase, map every
    * non-[a-z0-9 ] ASCII char to space (translate — ~7× a regex class
    * strip), collapse runs. Shared by text_normalize and the e2e pipeline.
    */
  private def normExpr(d: Dialect): String = {
    // ASCII 1..127 minus [a-z0-9 ]; chr(0) excluded (rejected by DuckDB).
    // Built as constant-folded chr() concat — embedding quote/backslash
    // chars in a SQL literal identically across both engines is fragile.
    val strip = (1 until 128).filterNot { c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' '
    }
    val fromStr = strip.map(i => s"chr($i)").mkString("concat(", ", ", ")")
    // `to` shorter than `from` would DELETE chars; map every one to space
    // ("don't" -> "don t", matching the regex semantics), then collapse —
    // via the dialect's replace-ALL (DuckDB needs the 'g' flag; a bare
    // regexp_replace there collapses only the FIRST run)
    s"trim(${d.regexpReplaceAll(
      s"translate(lower(text), $fromStr, repeat(' ', ${strip.length}))", " +", " ")})"
  }

  private def textNormalize(d: Dialect): String = {
    val norm = normExpr(d)
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, norm_text,
       |  CAST(length(norm_text) AS BIGINT) AS norm_len
       |FROM (SELECT doc_id, $norm AS norm_text
       |  FROM documents) t""".stripMargin
  }

  /** Deterministic hash-based corpus split (train/val/test 90/5/5): the
    * standard reproducible split at scale — no RNG state, no global sort; a
    * pure function of content, stable under re-runs and repartitioning.
    */
  private def sampleSplit(d: Dialect): String = {
    val bucket = s"(${F.strHash(d, "text")} % 100)"
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CASE WHEN $bucket < 90 THEN 'train'
       |       WHEN $bucket < 95 THEN 'val'
       |       ELSE 'test' END AS split,
       |  CAST($bucket AS BIGINT) AS bucket
       |FROM documents""".stripMargin
  }

  /** Deterministic global shuffle + sharding for training-data export: each
    * document lands in shard = hash(text) mod N, ordered within its shard by
    * (hash, doc_id) — a reproducible pseudo-random permutation with no
    * global sort and no global ROW_NUMBER (the single-partition anti-pattern
    * corpus_token_dict_encode's spec also pins against). At 100 TB the
    * window partitions BY SHARD: pick N ≈ a few × cluster parallelism so
    * each shard is one task's sort; writers then emit one file per shard.
    */
  private def shardShuffle(d: Dialect): String = {
    val h = F.strHash(d, "text")
    s"""WITH t AS (SELECT doc_id, $h AS h FROM documents)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(h % 8 AS BIGINT) AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
       |       AS BIGINT) AS pos
       |FROM t""".stripMargin
  }

  /** Sequence packing: assign documents to fixed-budget context windows
    * (4096 tokens) per source, greedy in doc_id order via a running-total
    * window function — the shuffle-once shape of training-batch packing.
    * (Greedy cumsum/budget packing, not bin-packing — deterministic and
    * one window scan.)
    */
  private def packSequences(d: Dialect): String = {
    val nTokens = s"${d.len(F.tokens(d, "text"))}"
    // integer division: Spark's `div`; DuckDB's `//` (plain `/` there is
    // FLOAT division, and its double->bigint cast ROUNDS where Spark
    // truncates — a silent cross-engine divergence)
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""WITH t AS (SELECT doc_id, source, CAST($nTokens AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, source, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       |  n_tokens,
       |  CAST((cum - n_tokens) $idiv 4096 AS BIGINT) AS pack_id
       |FROM c""".stripMargin
  }

  /** Token dictionary encoding — the reference's core compression trick
    * (strings → ints, SURVEY §1.1) applied to the corpus: build a global
    * token vocabulary with deterministic CONTENT-HASH ids, encode each
    * document as an id sequence. At 100 TB the vocab is a dim table
    * (broadcast when small, shuffle-joined when not) — never a driver map,
    * and ids are a pure function of the token (hash), NOT dense ranks: a
    * dense `ROW_NUMBER() OVER (ORDER BY tk)` would funnel every distinct
    * token through one task (a single-partition global window — the one
    * driver-style bottleneck flagged in round 1). Hash ids keep the whole
    * plan shuffle-partitioned; dictionaries for decode are the same vocab
    * table keyed by hash.
    *
    * The gate emits the id sequence space-joined to one string (hash-stable
    * for the driver's pandas compare); the array form is
    * [[debugTokenDictEncodeArray]], spec-verified in QueriesSpec.
    */
  private def tokenDictEncode(d: Dialect, asArray: Boolean = false,
      tokSrc: Option[String] = None): String = {
    val tokExpr = F.tokens(d, "text")
    val orderedCollect =
      if (d == SparkDialect) {
        // Spark collect_list has no ORDER BY: aggregate (pos, tid) structs
        // and sort, then project — deterministic order by token position.
        val arr = "transform(array_sort(collect_list(struct(pos, tid))), x -> x.tid)"
        if (asArray) arr else s"array_join(transform(array_sort(collect_list(struct(pos, tid))), x -> CAST(x.tid AS STRING)), ' ')"
      } else {
        if (asArray) "list(tid ORDER BY pos)"
        else "string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos)"
      }
    val explodePos =
      if (d == SparkDialect)
        s"SELECT doc_id, posexplode(toks) AS (pos, tk) FROM (SELECT doc_id, $tokExpr AS toks FROM documents) tw"
      else
        // multiple unnests in one DuckDB SELECT are zipped positionally
        s"SELECT doc_id, unnest(toks) AS tk, unnest(range(len(toks))) AS pos FROM (SELECT doc_id, $tokExpr AS toks FROM documents) tw"
    s"""WITH tok AS (${tokSrc.getOrElse(explodePos)}),
       |vocab AS (SELECT tk, ${F.strHash62(d, "tk")} AS tid
       |  FROM (SELECT DISTINCT tk FROM tok) vd),
       |enc AS (SELECT tok.doc_id, tok.pos, vocab.tid
       |  FROM tok JOIN vocab ON tok.tk = vocab.tk)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  $orderedCollect AS token_ids,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens
       |FROM enc GROUP BY doc_id""".stripMargin
  }

  /** Array-returning Spark form of corpus_token_dict_encode (ScalaTest). */
  def debugTokenDictEncodeArray: String = tokenDictEncode(SparkDialect, asArray = true)

  /** Positional token explode, materialized once (see [[cachedShingles]]). */
  private def cachedTokensPos(s: SparkSession, dir: String): String = {
    Stage.tables(s, dir, "documents")
    s.sql(s"SELECT doc_id, posexplode(toks) AS (pos, tk) FROM " +
        s"(SELECT doc_id, ${F.tokens(SparkDialect, "text")} AS toks FROM documents) tw")
      .persist().createOrReplaceTempView("graft_tokpos")
    "SELECT doc_id, pos, tk FROM graft_tokpos"
  }

  private def tokenDictEncodeDef: QueryDef =
    QueryDef("corpus_token_dict_encode", tokenDictEncode(DuckDialect)) { (s, dir) =>
      s.sql(tokenDictEncode(SparkDialect, asArray = false,
        tokSrc = Some(cachedTokensPos(s, dir))))
    }

  /** Incremental (cross-corpus) dedup: a new batch (doc_id >= 250) is
    * admitted only if its content hash is absent from the existing corpus
    * (doc_id < 250) — the anti-join shape of continuous ingestion dedup.
    * At 100 TB the corpus side is a compact fingerprint table (one 64-bit
    * hash per doc), not the documents themselves.
    */
  private def dedupIncremental(d: Dialect): String = {
    val h = F.strHash(d, "text")
    s"""WITH fp AS (SELECT doc_id, $h AS h FROM documents),
       |corpus AS (SELECT h FROM fp WHERE doc_id < 250),
       |batch AS (SELECT doc_id, h FROM fp WHERE doc_id >= 250)
       |SELECT CAST(b.doc_id AS BIGINT) AS doc_id, b.h AS content_fp
       |FROM batch b LEFT JOIN corpus c ON b.h = c.h
       |WHERE c.h IS NULL""".stripMargin
  }

  /** Repetition scoring: the fraction of a document occupied by its single
    * most frequent 3-shingle — high values flag boilerplate/spam/template
    * text (a standard pre-training filter). Non-distinct shingle counts, so
    * this uses the raw explode (not the vocab-distinct path).
    */
  private def textRepetition(d: Dialect): String =
    s"""WITH sh AS (${shingleExplode(d)}),
       |counts AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY doc_id, s),
       |agg AS (SELECT doc_id, MAX(c) AS max_rep, SUM(c) AS n_shingles
       |  FROM counts GROUP BY doc_id)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(max_rep AS BIGINT) AS max_repeat,
       |  CAST(max_rep AS DOUBLE) / n_shingles AS repetition_ratio,
       |  CASE WHEN CAST(max_rep AS DOUBLE) / n_shingles > 0.1
       |    THEN 1 ELSE 0 END AS flag_repetitive
       |FROM agg""".stripMargin

  /** Count-min-sketch heavy hitters over the token stream: a d=4 × w=16
    * sketch (each row an independent salted hash into w buckets, each cell
    * the sum of counts landing there), point-queried for every vocabulary
    * token — estimate = MIN over the 4 rows' cells, always >= the exact
    * count (CMS overestimates, never under). Cormode & Muthukrishnan,
    * "An Improved Data Stream Summary: The Count-Min Sketch" (J. Algorithms
    * 2005). w=16 is deliberately smaller than the fixture's 30-word
    * vocabulary so bucket collisions actually occur and the min-of-rows
    * error reduction is exercised, not just compiled.
    *
    * Scale shape: the token pre-count shuffles only distinct-token partials
    * (map-side combine), each distinct token is hashed d times (not each
    * occurrence — the repo's distinct-vocab hashing discipline), the sketch
    * itself is d*w = 64 cells (broadcast side of the estimate join), and the
    * point-query set at 100 TB is a small candidate list, not the full
    * vocabulary. Textbook occurrence-level CMS would instead shuffle 64
    * cells directly; both shapes scale, this one hashes ~|vocab| times less.
    */
  private def textCmsHeavyHitters(d: Dialect): String = {
    // salt each sketch row with a leading digit char so the d hashes are
    // independent; chr(48+rw) = '0'..'3' identically in both engines
    // (DuckDB's chr only binds INTEGER; its range() yields BIGINT)
    val rowHash = F.strHashCheap(d, "concat(chr(CAST(48 + rw AS INTEGER)), '#', tok)")
    s"""WITH tw AS (SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM documents),
       |te AS (${d.explodeSelect("doc_id", "tw", "toks", "tok")}),
       |vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM te GROUP BY tok),
       |vr AS (${d.explodeSelect("tok, c", "vocab", d.seq("0", "3"), "rw")}),
       |vh AS (SELECT tok, c, rw, ($rowHash) % 16 AS bucket FROM vr),
       |cells AS (SELECT rw, bucket, CAST(SUM(c) AS BIGINT) AS cell
       |  FROM vh GROUP BY rw, bucket),
       |est AS (SELECT vh.tok, MIN(cells.cell) AS cms_c, MIN(vh.c) AS exact_c
       |  FROM vh JOIN cells ON vh.rw = cells.rw AND vh.bucket = cells.bucket
       |  GROUP BY vh.tok),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM vocab)
       |SELECT est.tok AS token,
       |  CAST(est.cms_c AS BIGINT) AS cms_count,
       |  CAST(est.exact_c AS BIGINT) AS exact_count,
       |  CAST(est.cms_c - est.exact_c AS BIGINT) AS overcount,
       |  CAST(CASE WHEN est.cms_c * 20 >= tot.total THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_heavy
       |FROM est CROSS JOIN tot""".stripMargin
  }

  /** Zipf rank-frequency slope per language: OLS fit of ln(freq) against
    * ln(rank) over each language's token frequency table — the standard
    * corpus-health statistic (natural text ≈ −1; templated/spammy shards
    * drift toward 0). Cross-engine float discipline: each ln is quantized
    * ONCE per distinct (rank|freq) value to integer KILO-nats (not the
    * usual micro — the OLS moment Σx·y must stay in BIGINT for a 10⁷-term
    * vocabulary: (4·10⁴)² · 10⁷ ≈ 2·10¹⁶ ✓), the four moments are exact
    * BIGINT sums, and the final n·Sxy − Sx·Sy combination runs per-lang in
    * DECIMAL(18,0)→(38,0) arithmetic (exact integers; identical nearest-
    * double conversion in both engines). The only division is one IEEE
    * double divide of two exactly-determined values.
    *
    * Scale shape: tokenize+count is the tf map-side-combine shape; the
    * rank window partitions by lang over the |vocab|-sized aggregate (not
    * the corpus); moments are one more combinable agg. Nothing touches a
    * document twice.
    */
  private def textZipfSlope(d: Dialect): String =
    s"""WITH tw AS (SELECT lang, ${F.tokens(d, "text")} AS toks FROM documents),
       |te AS (${d.explodeSelect("lang", "tw", "toks", "tok")}),
       |freq AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM te GROUP BY lang, tok),
       |rk AS (SELECT lang, c,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tok)
       |      AS BIGINT) AS r FROM freq),
       |xy AS (SELECT lang,
       |    CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1000.0) AS BIGINT) AS x,
       |    CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000.0) AS BIGINT) AS y
       |  FROM rk),
       |m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM xy GROUP BY lang),
       |fin AS (SELECT lang, n,
       |    CAST(CAST(n AS DECIMAL(18,0)) * CAST(sxy AS DECIMAL(18,0))
       |      - CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS DECIMAL(38,0)) AS num,
       |    CAST(CAST(n AS DECIMAL(18,0)) * CAST(sxx AS DECIMAL(18,0))
       |      - CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0)) AS DECIMAL(38,0)) AS den
       |  FROM m)
       |SELECT lang, n AS n_vocab,
       |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS zipf_slope
       |FROM fin""".stripMargin

  /** Descriptive statistics from EXACT integer moments — the float
    * discipline applied to variance/stddev/correlation: the built-in
    * stddev/corr aggregates merge partial doubles in partition order
    * (hash-nondeterministic low bits ⇒ cross-engine hash mismatch), so
    * instead the five moments are summed exactly — counts in BIGINT,
    * squared-cents in DECIMAL(38,0) (3·10¹⁶ at sf1; survives 10¹² rows) —
    * and every double appears only in the FINAL scalar step: decimal→
    * nearest-double conversion, one division, one correctly-rounded
    * IEEE sqrt. corr(value, hour-of-day) per event type; var/stddev of
    * cents. One map-side-combinable aggregate, no second pass.
    */
  private def eventsStatsMoments(d: Dialect): String =
    s"""WITH b AS (SELECT event_type,
       |    CAST(round(value * 100) AS BIGINT) AS x,
       |    CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS y
       |  FROM events),
       |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
       |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
       |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
       |  FROM b GROUP BY event_type)
       |SELECT event_type, n,
       |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
       |  (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_cents,
       |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS stddev_cents,
       |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |    AS corr_value_hour
       |FROM m""".stripMargin

  /** TWO-SAMPLE A/B TEST (round-9): deterministic hash-bucket assignment
    * (user_id parity — the standard experiment split), per-arm exact
    * integer moment sums in cents (the events_stats_moments discipline:
    * BIGINT/DECIMAL aggregates, order-independent), then Welch's z
    * statistic as ONE scalar double expression over those exact sums —
    * identical doubles in both engines because every input to the float
    * tree is an exact integer. Per-arm variance is the SAMPLE variance
    * (÷(n−1)), as Welch's statistic defines it; arms are event-table
    * halves (thousands of rows), so n > 1 always holds here. The gate a
    * metrics pipeline runs per experiment readout.
    *
    * 100 TB shape: one map-side-combinable aggregate over events, a 2-row
    * pivot, scalar math — no data shuffle beyond the aggregate's.
    */
  /** Arm-assignment + integer-cents projection over an events relation —
    * the per-ROW half of the A/B readout, shared by the batch gate, the
    * versioned oracle, and the streaming gate's per-batch fold. */
  private[queries] val abArmSelect: String =
    """CASE WHEN user_id % 2 = 1 THEN 'B' ELSE 'A' END AS arm,
      |    CAST(round(value * 100) AS BIGINT) AS x""".stripMargin

  /** Per-arm exact moment sums (the associative state the streaming gate
    * accumulates per batch). */
  private[queries] val abMomentAggs: String =
    """CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx""".stripMargin

  /** 2-row → 1-row arm pivot over an `m(arm, n, sx, sxx)` relation. */
  private[queries] val abPivotCols: String =
    """CAST(MAX(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS na,
      |    CAST(MAX(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS nb,
      |    CAST(MAX(CASE WHEN arm = 'A' THEN sx END) AS BIGINT) AS sxa,
      |    CAST(MAX(CASE WHEN arm = 'B' THEN sx END) AS BIGINT) AS sxb,
      |    CAST(MAX(CASE WHEN arm = 'A' THEN sxx END) AS DECIMAL(25,0)) AS sxxa,
      |    CAST(MAX(CASE WHEN arm = 'B' THEN sxx END) AS DECIMAL(25,0)) AS sxxb""".stripMargin

  /** Welch's z readout over a pivoted `w(na, nb, sxa, sxb, sxxa, sxxb)`
    * row: one scalar double expression over exact integer sums (sample
    * variance ÷(n−1), as Welch defines). */
  private[queries] val welchReadoutCols: String =
    """na, nb,
      |  CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a_cents,
      |  CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b_cents,
      |  (CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)
      |    - CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)) AS lift_cents,
      |  (CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)
      |    - CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE))
      |  / sqrt(
      |      ((CAST(na AS DOUBLE) * CAST(sxxa AS DOUBLE)
      |         - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE))
      |        / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) / CAST(na AS DOUBLE)
      |    + ((CAST(nb AS DOUBLE) * CAST(sxxb AS DOUBLE)
      |         - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE))
      |        / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) / CAST(nb AS DOUBLE))
      |    AS welch_z""".stripMargin

  private def eventsAbTest(d: Dialect): String =
    s"""WITH b AS (SELECT $abArmSelect
       |  FROM events),
       |m AS (SELECT arm, $abMomentAggs
       |  FROM b GROUP BY arm),
       |w AS (SELECT $abPivotCols
       |  FROM m)
       |SELECT $welchReadoutCols
       |FROM w""".stripMargin

  /** DuckDB oracle for the STREAMING A/B readout: version v's readout is
    * the batch formula over the first v time-ordered THIRDS of the events
    * table — exactly the prefix each micro-batch has seen, since the
    * staging splits on the same (ts, event_id) row-number boundaries
    * (`stagedEventsDir`). The streaming side accumulates per-arm exact
    * integer sums per batch (associative), so cumulative sums equal the
    * oracle's prefix sums bit-for-bit and the double tree agrees. */
  private[queries] def eventsAbTestVersionedOracle: String =
    s"""WITH ev AS (SELECT user_id, value,
       |    ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
       |    COUNT(*) OVER () AS nn
       |  FROM events),
       |vs AS (SELECT CAST(1 AS BIGINT) AS version
       |  UNION ALL SELECT 2 UNION ALL SELECT 3),
       |b AS (SELECT vs.version, $abArmSelect
       |  FROM vs JOIN ev ON ev.rn <= (vs.version * ev.nn) // 3),
       |m AS (SELECT version, arm, $abMomentAggs
       |  FROM b GROUP BY version, arm),
       |w AS (SELECT version, $abPivotCols
       |  FROM m GROUP BY version)
       |SELECT version, $welchReadoutCols
       |FROM w""".stripMargin

  /** Batch MERGE / upsert (the Delta-style `MERGE INTO` semantics on plain
    * parquet): an updates batch — re-crawled src0 docs (text uppercased,
    * n_chars bumped) plus genuinely new rows in a shifted id space —
    * merges into the corpus as ONE full-outer join with per-column
    * COALESCE: matched keys take the update, unmatched updates insert,
    * untouched rows pass through. The join shuffles both sides on doc_id
    * once; at 100 TB the target side would be bucketed on doc_id so only
    * the (small) updates batch moves — same plan the streaming
    * foreachBatch upsert sink (stream_upsert_sink) applies per
    * micro-batch, here as the batch-compaction form.
    */
  private def corpusMergeUpsert(d: Dialect): String =
    s"""WITH u AS (
       |  SELECT doc_id, upper(text) AS text, lang, source,
       |    n_chars + 1000000 AS n_chars
       |  FROM documents WHERE source = 'src0'
       |  UNION ALL
       |  SELECT doc_id + 100000000, text, lang, 'src_new', n_chars
       |  FROM documents WHERE source = 'src1'),
       |merged AS (
       |  SELECT COALESCE(u.doc_id, t.doc_id) AS doc_id,
       |    COALESCE(u.text, t.text) AS text,
       |    COALESCE(u.lang, t.lang) AS lang,
       |    COALESCE(u.source, t.source) AS source,
       |    COALESCE(u.n_chars, t.n_chars) AS n_chars
       |  FROM documents t FULL OUTER JOIN u ON t.doc_id = u.doc_id)
       |SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
       |FROM merged""".stripMargin

  /** Conversion funnel over the events stream table: per user, the earliest
    * view → first click after that view → first purchase after that click,
    * and the stage reached. One shuffle on user_id; each stage is a
    * conditional MIN — no self-joins.
    */
  private def eventsFunnel(d: Dialect): String =
    s"""WITH v AS (SELECT user_id, MIN(ts) AS first_view FROM events
       |  WHERE event_type = 'view' GROUP BY user_id),
       |c AS (SELECT e.user_id, MIN(e.ts) AS first_click
       |  FROM events e JOIN v ON e.user_id = v.user_id
       |  WHERE e.event_type = 'click' AND e.ts > v.first_view
       |  GROUP BY e.user_id),
       |p AS (SELECT e.user_id, MIN(e.ts) AS first_purchase
       |  FROM events e JOIN c ON e.user_id = c.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts > c.first_click
       |  GROUP BY e.user_id)
       |SELECT CAST(v.user_id AS BIGINT) AS user_id, v.first_view,
       |  c.first_click, p.first_purchase,
       |  CASE WHEN p.first_purchase IS NOT NULL THEN 3
       |       WHEN c.first_click IS NOT NULL THEN 2
       |       ELSE 1 END AS funnel_stage
       |FROM v
       |LEFT JOIN c ON v.user_id = c.user_id
       |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin

  /** AS-OF join: each purchase paired with the user's most recent click at
    * or before it — the time-series operator Spark lacks natively. Shape
    * chosen for scale: NOT a range join + max-per-purchase (pair explosion
    * on active users) but one window pass — carry the last click time
    * forward over the user's event sequence (`last(..., ignoreNulls)` with
    * a ROWS frame), then keep purchase rows. One shuffle on user_id, state
    * = one value per row in flight.
    */
  private def eventsAsofJoin: QueryDef =
    QueryDef("events_asof_join",
      """WITH tagged AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type = 'click' THEN ts END AS click_ts
        |  FROM events),
        |w AS (SELECT user_id, ts, event_id, event_type,
        |    last_value(click_ts IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click
        |  FROM tagged)
        |SELECT CAST(event_id AS BIGINT) AS purchase_id,
        |  CAST(user_id AS BIGINT) AS user_id, ts, asof_click
        |FROM w WHERE event_type = 'purchase'""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .withColumn("click_ts",
          when(col("event_type") === "click", col("ts")))
        .withColumn("asof_click", last(col("click_ts"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").cast("long").as("purchase_id"),
          col("user_id").cast("long").as("user_id"), col("ts"), col("asof_click"))
    }

  /** Time-series GAP FILL + resample — the feature-pipeline operator that
    * turns an irregular event stream into a dense fixed-grid series: per
    * user, an HOURLY spine from their first to last observed hour, each
    * hour carrying that hour's event count and value sum, with missing
    * hours filled by carrying the last observation forward (LOCF via
    * `last_value IGNORE NULLS` over a running ROWS frame).
    *
    * Scale shape: the spine is `explode(sequence(h0, h1))` off a per-user
    * bounds aggregate — generated distributed, never a driver loop; the
    * spine⋈hourly-agg join and the LOCF window both hash-partition on
    * user_id, so the whole operator is ONE shuffle of spine-sized data.
    * Spine cardinality is users × span-hours — bounded and predictable,
    * the reason resampling pipelines pick a grid granularity.
    */
  private def eventsGapFill: QueryDef =
    QueryDef("events_gap_fill",
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, value FROM events),
        |a AS (SELECT user_id, h, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
        |  FROM e GROUP BY user_id, h),
        |b AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM a GROUP BY user_id),
        |spine AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM b)
        |SELECT CAST(s.user_id AS BIGINT) AS user_id, CAST(s.h AS BIGINT) AS hour_id,
        |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
        |  last_value(a.v_sum IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf
        |FROM spine s LEFT JOIN a ON a.user_id = s.user_id AND a.h = s.h""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val hourly = Tables.load(s, dir, "events")
        .select(col("user_id"), expr("unix_timestamp(ts) div 3600").as("h"), col("value"))
        .groupBy(col("user_id"), col("h"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v_sum"))
      val spine = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id").cast("long").as("user_id"),
          col("h").cast("long").as("hour_id"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_events"),
          last(col("v_sum"), ignoreNulls = true).over(w).as("v_locf"))
    }

  /** Equi-width feature BINNING + per-group histogram — the feature-
    * engineering pass that turns a continuous column into bounded
    * categorical buckets (and the profile histogram that validates a
    * distribution before training). One scan, one map-side-combinable
    * aggregate, one window over the (event_type × bucket) aggregate — the
    * window input is bucket-count-sized, not row-sized. Shares are exact
    * integer micro-units (single division), so cross-engine bit-equal.
    */
  private def eventsHistogram: QueryDef =
    QueryDef("events_histogram",
      """WITH b AS (SELECT event_type,
        |    CAST(floor(value / 25.0) AS BIGINT) AS bucket FROM events),
        |a AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM b GROUP BY event_type, bucket)
        |SELECT event_type, bucket,
        |  CAST(bucket * 25.0 AS DOUBLE) AS lo,
        |  CAST((bucket + 1) * 25.0 AS DOUBLE) AS hi, n,
        |  CAST((1000000 * n) // SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS share_micro
        |FROM a""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy(col("event_type"))
      Tables.load(s, dir, "events")
        .select(col("event_type"), floor(col("value") / 25.0).cast("long").as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bucket"),
          (col("bucket") * 25.0).cast("double").as("lo"),
          ((col("bucket") + 1) * 25.0).cast("double").as("hi"), col("n"),
          expr("(1000000 * n) div sum(n) OVER (PARTITION BY event_type)")
            .cast("long").as("share_micro"))
    }

  /** Small-files compaction — the table-maintenance operator every large
    * lake needs: a directory fragmented into many tiny parquet files (here:
    * deliberately written as 64 splits) is rewritten into few balanced
    * files. At 100 TB, compaction bounds file-listing cost and NameNode/
    * manifest pressure and restores scan efficiency; the rewrite is one
    * shuffle-free coalesce. Gate verifies the data survives byte-exact;
    * the spec pins the file-count contract.
    */
  private def corpusCompact: QueryDef =
    QueryDef("corpus_compact",
      "SELECT event_id, user_id, event_type, value FROM events") { (s, dir) =>
      val frag = Tables.staged(s, dir, "compact_in") { fragDir =>
        Tables.load(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value")
          .repartition(64).write.mode("overwrite").parquet(fragDir)
      }
      val out = Tables.scratchDir(dir, "compact_out")
      compactParquet(s, frag, out, targetFiles = 4)
      s.read.parquet(out)
    }

  /** Rewrite a fragmented parquet directory into `targetFiles` balanced
    * files (coalesce: no shuffle — existing partitions are concatenated).
    */
  def compactParquet(s: SparkSession, in: String, out: String, targetFiles: Int): Unit =
    s.read.parquet(in).coalesce(targetFiles)
      .write.mode("overwrite").parquet(out)

  /** Column profiling — the data-quality summary pass (row counts, null
    * counts, distinct cardinalities, numeric ranges) that fronts every
    * ingestion pipeline. One scan, all aggregates map-side combinable.
    */
  private def corpusProfile(d: Dialect): String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(text) AS BIGINT) AS n_text_nonnull,
       |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
       |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
       |  CAST(MAX(doc_id) AS BIGINT) AS max_id
       |FROM documents""".stripMargin

  private def eventsQuery(name: String, sql: Dialect => String): QueryDef =
    QueryDef(name, sql(DuckDialect)) { (s, dir) =>
      Stage.tables(s, dir, "events"); s.sql(sql(SparkDialect))
    }

  /** HLL SET OPERATIONS — the reason sketches win at 100 TB is not one
    * count but the ALGEBRA: register vectors built over DIFFERENT datasets
    * or periods merge by per-register MAX (union), and inclusion–exclusion
    * prices the overlap without re-scanning either side (the overlap-of-
    * cohorts question over sketch state alone). Sets = two overlapping
    * user cohorts (user_id % 3 <> 0 vs % 2 <> 0 — true sizes 2/3 n,
    * 1/2 n, overlap 1/3 n), so union and intersection are genuinely
    * distinct from either side. Register sums stay exact BIGINT (Σ 2^(25−M[j])); each
    * estimate is one double division over them.
    *
    * 100 TB shape: each side is one aggregate to 64 registers (map-side
    * combinable MAX); the set algebra is over model-sized register
    * vectors only.
    */
  private def eventsHllSetops(d: Dialect): String = {
    val a = F.hllAlphaScale64
    s"""WITH du AS (SELECT user_id, ${F.hllHash(d, "user_id")} AS h
       |  FROM (SELECT DISTINCT user_id FROM events) k),
       |hh AS (SELECT 0 AS part, h FROM du WHERE user_id % 3 <> 0
       |  UNION ALL
       |  SELECT 1 AS part, h FROM du WHERE user_id % 2 <> 0),
       |hw AS (SELECT part, h % 64 AS j,
       |    ${d.shiftRight("h", "6")} % 16777216 AS w FROM hh),
       |hr AS (SELECT part, j, ${F.hllRho(d, "w")} AS rho FROM hw),
       |regs AS (SELECT part, j, MAX(rho) AS m FROM hr GROUP BY part, j),
       |js AS (${F.intRows(d, 64, "j")}),
       |parts AS (SELECT 0 AS part UNION ALL SELECT 1),
       |zp AS (SELECT p.part, js.j, COALESCE(r.m, 0) AS m
       |  FROM parts p CROSS JOIN js
       |  LEFT JOIN regs r ON r.part = p.part AND r.j = js.j),
       |zur AS (SELECT js.j, COALESCE(u.m, 0) AS m
       |  FROM js LEFT JOIN (SELECT j, MAX(m) AS m FROM regs GROUP BY j) u
       |    ON u.j = js.j),
       |zs AS (SELECT
       |    CAST(SUM(CASE WHEN part = 0 THEN ${d.shiftLeft1("25 - m")}
       |      ELSE 0 END) AS BIGINT) AS za,
       |    CAST(SUM(CASE WHEN part = 1 THEN ${d.shiftLeft1("25 - m")}
       |      ELSE 0 END) AS BIGINT) AS zb,
       |    CAST(SUM(CASE WHEN part = 0 AND m > 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS aa,
       |    CAST(SUM(CASE WHEN part = 1 AND m > 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ab
       |  FROM zp),
       |zus AS (SELECT CAST(SUM(${d.shiftLeft1("25 - m")}) AS BIGINT) AS zu,
       |    CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS au
       |  FROM zur)
       |SELECT za, zb, zu AS z_union,
       |  $a / CAST(za AS DOUBLE) AS est_a,
       |  $a / CAST(zb AS DOUBLE) AS est_b,
       |  $a / CAST(zu AS DOUBLE) AS est_union,
       |  $a / CAST(za AS DOUBLE) + $a / CAST(zb AS DOUBLE)
       |    - $a / CAST(zu AS DOUBLE) AS est_intersect,
       |  ${F.hllEstimateCorrected(d, "za", "aa")} AS est_a_corrected,
       |  ${F.hllEstimateCorrected(d, "zb", "ab")} AS est_b_corrected,
       |  ${F.hllEstimateCorrected(d, "zu", "au")} AS est_union_corrected,
       |  ${F.hllEstimateCorrected(d, "za", "aa")}
       |    + ${F.hllEstimateCorrected(d, "zb", "ab")}
       |    - ${F.hllEstimateCorrected(d, "zu", "au")} AS est_intersect_corrected
       |FROM zs CROSS JOIN zus""".stripMargin
  }

  /** ANOMALY DETECTION over a metric stream — per-user rolling z-score
    * against the TRAILING 5-event window (the streaming-monitoring shape:
    * "this event is k sigmas off this user's recent behavior"). All window
    * moments are exact integers (cents; DECIMAL squares), the z readout is
    * one double chain over exact inputs (sqrt is correctly rounded IEEE in
    * both engines), and the trailing window excludes the current row so
    * the subject never contaminates its own baseline. Flag |z| >= 2 on a
    * full window with positive variance.
    *
    * 100 TB shape: ONE window exchange on user_id (the sessionize
    * partitioning), no self-joins; per-row state is the 5-row frame.
    */
  private[queries] def eventsAnomaly(d: Dialect): String =
    s"""WITH ev AS (SELECT event_id, user_id, ts,
       |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
       |w AS (SELECT event_id, user_id, x,
       |    COUNT(x) OVER win AS n,
       |    SUM(x) OVER win AS sx,
       |    -- width discipline: cents fit DECIMAL(12,0) (bound |value| <
       |    -- 10^10 dollars), so x² < 10^24 and the 5-row window sum
       |    -- < 5·10^24 fits DECIMAL(26,0); with n ≤ 5 as DECIMAL(2,0) and
       |    -- sx as DECIMAL(14,0), every product below stays under 38
       |    -- digits in BOTH engines — no Spark truncate-to-NULL, no
       |    -- DuckDB fallback-to-DOUBLE, the moments remain exact integers
       |    CAST(SUM(CAST(x AS DECIMAL(12,0)) * CAST(x AS DECIMAL(12,0)))
       |      OVER win AS DECIMAL(26,0)) AS sxx
       |  FROM ev
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)),
       |z AS (SELECT event_id, user_id, x, n,
       |    CAST(x * n - sx AS DOUBLE)
       |      / sqrt(CAST(CAST(n AS DECIMAL(2,0)) * (CAST(n AS DECIMAL(2,0)) * sxx
       |          - CAST(sx AS DECIMAL(14,0)) * CAST(sx AS DECIMAL(14,0)))
       |          AS DOUBLE) / (n - 1)) AS zscore
       |  FROM w
       |  WHERE n = 5 AND CAST(n AS DECIMAL(2,0)) * sxx
       |    > CAST(sx AS DECIMAL(14,0)) * CAST(sx AS DECIMAL(14,0)))
       |SELECT CAST(event_id AS BIGINT) AS event_id,
       |  CAST(user_id AS BIGINT) AS user_id,
       |  CAST(x AS BIGINT) AS value_cents, zscore
       |FROM z WHERE abs(zscore) >= CAST(2 AS DOUBLE)""".stripMargin

  /** RETENTION COHORTS (round-9) — the product-analytics triangle: users
    * cohorted by the DAY of their first event (relative to the corpus
    * epoch), counted distinct per (cohort_day, days-since-first-event).
    * Exact integer epoch-micros arithmetic end-to-end (the events_funnel
    * discipline) — no date/timezone functions, so both engines agree
    * bit-for-bit.
    *
    * 100 TB shape: one map-side-combinable MIN per user, a broadcast
    * 1-row corpus epoch, one join back on user_id (hash-partitioned),
    * one COUNT DISTINCT groupBy — the canonical two-exchange cohort job.
    */
  private[queries] def eventsRetentionCohorts(d: Dialect): String = {
    val em = if (d == SparkDialect) "unix_micros(ts)" else "epoch_us(ts)"
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""WITH ev AS (SELECT user_id, $em AS tus FROM events),
       |f AS (SELECT user_id, CAST(MIN(tus) AS BIGINT) AS t0 FROM ev GROUP BY user_id),
       |g AS (SELECT CAST(MIN(t0) AS BIGINT) AS g0 FROM f),
       |a AS (SELECT e.user_id,
       |    (f.t0 - g.g0) $idiv 86400000000 AS cohort_day,
       |    (e.tus - f.t0) $idiv 86400000000 AS age_day
       |  FROM ev e JOIN f ON f.user_id = e.user_id CROSS JOIN g)
       |SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
       |  CAST(age_day AS BIGINT) AS age_day,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
       |FROM a GROUP BY cohort_day, age_day""".stripMargin
  }

  /** SPAN CORRUPTION (round-9) — the T5 denoising-objective data prep
    * (Raffel et al., arXiv:1910.10683 §3.1.4): deterministic ~1-in-7 span
    * starts (multiplicative hash on (doc, position) — no RNG, engines and
    * reruns agree), span length 2, adjacent/overlapping spans MERGED
    * (exactly T5's contiguous-span rule). Per doc emits the INPUT (masked
    * spans replaced by one `<x_K>` sentinel each) and the TARGET (each
    * sentinel followed by its masked tokens) plus token accounting.
    * Sentinel ids are per-doc span ranks via one running-sum window; the
    * ordered reassembly is an ordered string aggregation in both engines
    * (array_sort over (pos, piece) structs in Spark, string_agg ORDER BY
    * in DuckDB).
    *
    * 100 TB shape: tokenize + scalar mask flags (codegen'd), ONE window
    * exchange on doc_id (the span numbering + ordered concat share it) —
    * a per-doc-bounded job at any corpus size.
    */
  private def corpusSpanCorruption(d: Dialect): String = {
    def start(off: Int): String = {
      val p = if (off == 0) "p" else s"(p - $off)"
      s"(p >= $off AND ((doc_id*1103515245 + $p*12345 + 54321) % 2147483647) % 7 = 0)"
    }
    val masked = s"(${start(0)} OR ${start(1)})"
    val maskedPrev = s"(p >= 1 AND (${start(1)} OR ${start(2)}))"
    val toks =
      if (d == SparkDialect)
        "SELECT doc_id, posexplode(split(text, ' ')) AS (p, tok) FROM documents"
      else
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok, " +
          "unnest(range(len(string_split(text, ' ')))) AS p FROM documents"
    def agg(piece: String): String =
      if (d == SparkDialect)
        s"array_join(transform(array_sort(collect_list(CASE WHEN $piece IS NOT NULL " +
          s"THEN named_struct('p', p, 's', $piece) END)), z -> z.s), ' ')"
      else s"COALESCE(string_agg($piece, ' ' ORDER BY p), '')"
    val sentinel = "concat('<x_', CAST(sid AS STRING), '>')"
    val sentinelD = if (d == SparkDialect) sentinel else
      "concat('<x_', CAST(sid AS VARCHAR), '>')"
    s"""WITH t AS ($toks),
       |m AS (SELECT doc_id, p, tok,
       |    CASE WHEN $masked THEN 1 ELSE 0 END AS mk,
       |    CASE WHEN $masked AND NOT $maskedPrev THEN 1 ELSE 0 END AS ns
       |  FROM t),
       |sp AS (SELECT doc_id, p, tok, mk, ns,
       |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m),
       |pieces AS (SELECT doc_id, p, mk,
       |    CASE WHEN mk = 0 THEN tok
       |         WHEN ns = 1 THEN $sentinelD ELSE NULL END AS inp,
       |    CASE WHEN mk = 0 THEN NULL
       |         WHEN ns = 1 THEN concat($sentinelD, ' ', tok) ELSE tok END AS tgt
       |  FROM sp)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(mk) AS BIGINT) AS n_masked,
       |  ${agg("inp")} AS input_text,
       |  ${agg("tgt")} AS target_text
       |FROM pieces GROUP BY doc_id""".stripMargin
  }

  /** SEQUENCE-PATTERN DETECTION (MATCH_RECOGNIZE-style) composed from
    * running-max windows — per-user view → click → purchase COMPLETED
    * WITHIN A 24-HOUR WINDOW, the time-bounded pattern match Spark SQL
    * lacks as a built-in (the unbounded-stage funnel is [[eventsFunnel]];
    * this gate answers "did the chain complete in time", per occurrence).
    * For each event the first window carries the latest preceding `view`;
    * the second carries, over `click` rows, the latest such view — so at a
    * `purchase` row, `chain_view` is the TIGHTEST chain's view timestamp
    * (latest click before the purchase, latest view before that click: if
    * the tightest chain misses the window, every chain does). All windows
    * share one (user, (ts, event_id)) sort — one exchange per corpus;
    * same-instant events order by event_id (the deterministic total order
    * both engines replay). Timestamps compare in exact epoch MICROS
    * (truncating to seconds first would misorder sub-second chains).
    */
  /** The funnel chain CTEs, ending in relation
    * `f(user_id, event_id, tus, chain_view)` — every qualifying purchase.
    * Shared by the batch gate and the streaming CEP gate's oracle
    * ([[Streams]] stream_funnel_match replays the same running-max
    * recurrence as per-key state).
    */
  private[queries] def eventsFunnelChainCtes(d: Dialect): String = {
    val em = if (d == SparkDialect) "unix_micros(ts)" else "epoch_us(ts)"
    s"""ev AS (SELECT user_id, event_id, event_type, $em AS tus FROM events),
       |w1 AS (SELECT user_id, event_id, event_type, tus,
       |    MAX(CASE WHEN event_type = 'view' THEN tus END) OVER w AS last_view
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |w2 AS (SELECT user_id, event_id, event_type, tus,
       |    MAX(CASE WHEN event_type = 'click' THEN last_view END) OVER w AS chain_view
       |  FROM w1 WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |f AS (SELECT user_id, event_id, tus, chain_view FROM w2
       |  WHERE event_type = 'purchase' AND chain_view IS NOT NULL
       |    AND tus - chain_view <= ${Pipeline.FunnelWindowMicros})""".stripMargin
  }

  private[queries] val FunnelWindowMicros = 86400000000L

  private def eventsFunnelWindowed(d: Dialect): String =
    s"""WITH ${eventsFunnelChainCtes(d)}
       |SELECT CAST(user_id AS BIGINT) AS user_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_conversions,
       |  CAST(MIN(tus - chain_view) AS BIGINT) AS min_span_us,
       |  CAST(MIN(tus) AS BIGINT) AS first_convert_us
       |FROM f GROUP BY user_id""".stripMargin

  /** Stratified deterministic sampling: a per-source rate applied via
    * content-hash thresholds (10% of src0/src1, 50% of src2, 100% of the
    * rest) — reproducible downsampling with per-stratum control, no RNG
    * state, stable under repartitioning.
    */
  private def corpusSampleStratified(d: Dialect): String = {
    val bucket = s"(${F.strHash(d, "text")} % 100)"
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       |  CAST($bucket AS BIGINT) AS bucket
       |FROM documents
       |WHERE (source IN ('src0', 'src1') AND $bucket < 10)
       |   OR (source = 'src2' AND $bucket < 50)
       |   OR source IS NULL
       |   OR source NOT IN ('src0', 'src1', 'src2')""".stripMargin
  }

  /** Containment (asymmetric Jaccard) detection: |A∩B| / |A| >= 0.9 flags
    * documents mostly CONTAINED in another (quotes, near-subsets) that
    * symmetric Jaccard misses when sizes differ. Candidates reuse the
    * prefix-join shape with a one-sided length constraint (B can be much
    * larger than A, but containment >= t forces |A| <= |B| / t ... no upper
    * bound needed on |B|; prefix length uses the containment threshold).
    */
  private def dedupContainment(d: Dialect, setTable: String): String = {
    val inter = d.interSize("ta.sh", "tb.sh")
    val idiv = if (d == SparkDialect) "div" else "//"
    prefixJoinSql(d, setTable,
      prefixLen = s"n $idiv 10 + 1",
      ySide = "r", // asymmetric: A's prefix vs ALL of B's ranked shingles
      // positional filter: containment >= 0.9 needs overlap >= 0.9*|A|
      // (integer form: 10*bound >= 9*|A|)
      pairPredicate = "x.doc_id <> y.doc_id" +
        " AND 10 * (LEAST(x.rn, y.rn) + LEAST(x.n - x.rn, y.n - y.rn)) >= 9 * x.n",
      verifyName = "containment",
      verifyExpr = s"CAST($inter AS DOUBLE) / ta.n",
      verifyWhere = "containment >= 0.9")
  }

  private def dedupContainmentDef: QueryDef =
    QueryDef("dedup_containment",
      s"""WITH sets AS (${ngramSetSql(DuckDialect)})
         |, result AS (${dedupContainment(DuckDialect, "sets")})
         |SELECT * FROM result""".stripMargin) { (s, dir) =>
      Stage.view("ngram_sets_cont", s.sql(ngramSetSql(SparkDialect, Some(cachedShingles(s, dir)))))
      s.sql(dedupContainment(SparkDialect, "ngram_sets_cont"))
    }

  /** Dedup QUALITY EVALUATION — precision/recall of the MinHash+LSH
    * candidate pairs against exact n-gram-Jaccard ground truth, the
    * measurement step every production dedup pipeline needs before
    * trusting a sketch configuration (sim_ann_recall is the same idea for
    * ANN). Ground truth = the exact-recall AllPairs join at J >= 0.5;
    * prediction = LSH candidates with estimated similarity >= 0.5. A FULL
    * JOIN on the pair key classifies TP/FP/FN; precision/recall are
    * emitted in exact integer micro-units (one integer division — no
    * float accumulation to diverge cross-engine).
    *
    * Corpus restricted to doc_id < 1000: the evaluation's point is the
    * composition, and the restricted run keeps the board's bench honest —
    * at full corpus it would simply re-run the two pair joins it audits.
    * Scale shape: both inputs are the equi-join pipelines audited
    * elsewhere; the eval itself is one full outer join on (a, b) + one
    * map-side-combinable aggregate.
    */
  private def dedupMinhashEval: QueryDef = {
    def evalSelect(d: Dialect, setsTable: String, sigsTable: String): String = {
      val idiv = if (d == SparkDialect) "div" else "//"
      s"""WITH exact AS (${ngramPairsSql(d, setsTable)}),
         |pred AS (${minhashPairsSql(d, sigsTable)}),
         |j AS (SELECT
         |    CASE WHEN e.a IS NOT NULL THEN 1 ELSE 0 END AS is_true,
         |    CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END AS is_pred
         |  FROM exact e FULL JOIN pred p ON e.a = p.a AND e.b = p.b)
         |SELECT CAST(SUM(is_true * is_pred) AS BIGINT) AS tp,
         |  CAST(SUM((1 - is_true) * is_pred) AS BIGINT) AS fp,
         |  CAST(SUM(is_true * (1 - is_pred)) AS BIGINT) AS fn,
         |  CAST((1000000 * SUM(is_true * is_pred))
         |    $idiv GREATEST(SUM(is_pred), 1) AS BIGINT) AS precision_micro,
         |  CAST((1000000 * SUM(is_true * is_pred))
         |    $idiv GREATEST(SUM(is_true), 1) AS BIGINT) AS recall_micro
         |FROM j""".stripMargin
    }
    val d = DuckDialect
    QueryDef("dedup_minhash_eval",
      s"""WITH sh0 AS (SELECT * FROM (${shingleExplode(d)}) q0 WHERE doc_id < 1000),
         |sets AS (${ngramSetSql(d, Some("SELECT doc_id, s FROM sh0"))}),
         |sigs AS (${minhashSigSql(d, Some("SELECT doc_id, s FROM sh0"))}),
         |result AS (${evalSelect(d, "sets", "sigs")})
         |SELECT * FROM result""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      val sh = s.sql(
        s"SELECT * FROM (${shingleExplode(SparkDialect)}) q0 WHERE doc_id < 1000")
        .persist()
      sh.createOrReplaceTempView("graft_sh_eval")
      val src = "SELECT doc_id, s FROM graft_sh_eval"
      val sets = Stage.view("ngram_sets_eval", s.sql(ngramSetSql(SparkDialect, Some(src))))
      val sigs = Stage.view("minhash_sigs_eval", s.sql(minhashSigSql(SparkDialect, Some(src))))
      // Materialize the (1-row) eval result, then RELEASE the cached
      // shingle explode — without this its blocks squat in executor storage
      // for the rest of a 205-gate board run. The checkpointed sets/sigs
      // RDDs release via ContextCleaner once the gate's references drop
      // (the result itself is checkpointed, so it holds no lineage on them).
      val out = s.sql(evalSelect(SparkDialect, "ngram_sets_eval", "minhash_sigs_eval"))
        .localCheckpoint()
      sh.unpersist()
      out
    }
  }

  /** Near-dup CLUSTERING + keeper selection — the step after pair
    * generation in a dedup pipeline: connected components over the
    * MinHash/LSH pair graph (min-label propagation,
    * [[graft.operators.Graph.connectedComponents]]), every document labeled
    * with its cluster's minimum doc_id, keeper = that minimum. Singletons
    * keep themselves. Oracle: recursive-CTE transitive closure over the
    * identical pair set.
    */
  private def dedupClusters: QueryDef = {
    val d = DuckDialect
    QueryDef("dedup_clusters",
      s"""WITH RECURSIVE sigs AS (${minhashSigSql(d)}),
         |p AS (${minhashPairsSql(d, "sigs")}),
         |edges AS (SELECT a AS u, b AS v FROM p UNION ALL SELECT b AS u, a AS v FROM p),
         |reach AS (
         |  SELECT CAST(doc_id AS BIGINT) AS node, CAST(doc_id AS BIGINT) AS comp FROM documents
         |  UNION
         |  SELECT e.v AS node, r.comp FROM reach r JOIN edges e ON e.u = r.node)
         |SELECT node AS doc_id, MIN(comp) AS cluster_id,
         |  CAST(CASE WHEN MIN(comp) = node THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM reach GROUP BY node""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.{col, when}
      Stage.view("minhash_sigs_cc",
        s.sql(minhashSigSql(SparkDialect, Some(cachedShingles(s, dir)))))
      val pairs = s.sql(minhashPairsSql(SparkDialect, "minhash_sigs_cc"))
      val edges = pairs.select(col("a").as("u"), col("b").as("v"))
      val nodes = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long").as("node"))
      graft.operators.Graph.connectedComponents(nodes, edges)
        .select(col("node").as("doc_id"), col("comp").as("cluster_id"),
          when(col("node") === col("comp"), 1).otherwise(0).as("keep"))
    }
  }

  /** PII scrubbing — redact email- and phone-shaped spans and count them
    * (the standard pre-training privacy pass). The corpus here is synthetic
    * (PII-shaped strings derived deterministically from customer rows, since
    * the documents table is bare a-z text); the operator — count + global
    * regex redaction — is the real thing. Patterns avoid regex shorthand
    * classes whose semantics differ between Java regex and RE2.
    */
  private def textPiiScrub(d: Dialect): String = {
    val email = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
    val phone = "555-[0-9]{4}"
    // CAST(... AS STRING): the one string-type name both engines accept
    val mkText = "'contact ' || c_name || ' at user' || CAST(c_custkey AS STRING) || " +
      "'@mail.example.com or 555-' || CAST(1000 + c_custkey % 9000 AS STRING) || " +
      "CASE WHEN c_custkey % 3 = 0 THEN ' cc admin@ops.example.com' ELSE '' END"
    s"""WITH raw AS (SELECT c_custkey AS doc_id, $mkText AS text FROM customer)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(${d.regexpCount("text", email)} AS BIGINT) AS n_emails,
       |  CAST(${d.regexpCount("text", phone)} AS BIGINT) AS n_phones,
       |  ${d.regexpReplaceAll(d.regexpReplaceAll("text", email, "<EMAIL>"), phone, "<PHONE>")} AS scrubbed
       |FROM raw""".stripMargin
  }

  /** Per-source top-n curation: keep each source's 20 longest documents
    * (longest = crude quality proxy; any score column slots in) —
    * the group-limit shape of per-domain corpus curation.
    *
    * Spark side runs graft's NATIVE top-k operator
    * ([[graft.operators.TopK.perGroup]] — bounded heaps, map-side cap) to
    * cut the table to ≤20 rows per source, then ranks the tiny survivor
    * set with a window — the "heavy native reduce, cheap window on the
    * residue" composition. Oracle stays the pure-SQL window form.
    */
  private def corpusTopPerSource(d: Dialect): String =
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       |  CAST(n_chars AS BIGINT) AS n_chars, CAST(rnk AS BIGINT) AS rnk
       |FROM (SELECT doc_id, source, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS rnk
       |  FROM documents) t
       |WHERE rnk <= 20""".stripMargin

  private def corpusTopPerSourceDef: QueryDef =
    QueryDef("corpus_top_per_source", corpusTopPerSource(DuckDialect)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val top = graft.operators.TopK.perGroup(docs, Seq("source"),
        Seq("n_chars" -> false, "doc_id" -> true), k = 20)
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      top.withColumn("rnk", row_number().over(w).cast("long"))
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"), col("rnk"))
    }

  // ------------------------------------------------- multimodal / sessions

  /** REAL mixed-modality feature extraction (round-7, replacing the
    * byte-checksum stub): the media table carries actual PNG / WAV / GIF
    * payloads (round-robin by doc_id % 3) and ONE mapPartitions pass
    * dispatches each row to the matching JDK codec — no per-modality
    * split/union, the shape a modality-mixed 100 TB media table demands.
    * Features unify as (decoded atom count, content sum): pixels+gray-sum
    * for images, samples+abs-amplitude-sum for audio, frames+gray-sum for
    * video. All three generators are SQL-derivable, so the oracle rebuilds
    * every decoded value with three per-modality subqueries and zero media
    * libraries; PNG/PCM/identity-palette-GIF are lossless, so the
    * round-trip is exact.
    */
  private def multimodalFeatures: QueryDef =
    QueryDef("multimodal_features",
      """WITH img AS (SELECT doc_id, 1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h
        |    FROM documents WHERE doc_id % 3 = 0),
        |ipx AS (SELECT i.doc_id, i.w * i.h AS n_units,
        |    CAST((i.doc_id + 7*xs.x + 13*ys.y) % 251 AS BIGINT) AS v
        |  FROM img i
        |  JOIN (SELECT unnest(range(0, 64)) AS x) xs ON xs.x < i.w
        |  JOIN (SELECT unnest(range(0, 48)) AS y) ys ON ys.y < i.h),
        |ifeat AS (SELECT doc_id, 'image' AS modality, n_units, SUM(v) AS value_sum
        |  FROM ipx GROUP BY doc_id, n_units),
        |aud AS (SELECT doc_id, 64 + doc_id % 128 AS n
        |    FROM documents WHERE doc_id % 3 = 1),
        |apx AS (SELECT a.doc_id, a.n,
        |    CAST(abs(((a.doc_id*31 + 17*ns.i) % 2048) - 1024) AS BIGINT) AS v
        |  FROM aud a JOIN (SELECT unnest(range(0, 192)) AS i) ns ON ns.i < a.n),
        |afeat AS (SELECT doc_id, 'audio' AS modality, n AS n_units, SUM(v) AS value_sum
        |  FROM apx GROUP BY doc_id, n),
        |vid AS (SELECT doc_id, 2 + doc_id % 4 AS f
        |    FROM documents WHERE doc_id % 3 = 2),
        |vpx AS (SELECT v.doc_id, v.f,
        |    CAST((v.doc_id + 11*fs.fi + 7*xs.x + 13*ys.y) % 251 AS BIGINT) AS pv
        |  FROM vid v JOIN (SELECT unnest(range(0, 6)) AS fi) fs ON fs.fi < v.f
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS x) xs
        |  CROSS JOIN (SELECT unnest(range(0, 6)) AS y) ys),
        |vfeat AS (SELECT doc_id, 'video' AS modality, f AS n_units, SUM(pv) AS value_sum
        |  FROM vpx GROUP BY doc_id, f)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, modality,
        |  CAST(n_units AS BIGINT) AS n_units, CAST(value_sum AS BIGINT) AS value_sum
        |FROM (SELECT * FROM ifeat UNION ALL SELECT * FROM afeat
        |      UNION ALL SELECT * FROM vfeat) u""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.extractFeatures(
        graft.operators.Multimodal.mediaTable(s, dir)).toDF()
    }

  /** REAL image resize through the gate (round-6, replacing the
    * byte-downsample stub): decode the PNG corpus, nearest-neighbor
    * resample to 16x12, RE-ENCODE to PNG, decode again for features — a
    * full codec round trip per record on executors. Nearest-neighbor is
    * the one kernel whose output pixels are exactly derivable in SQL from
    * the generator formula (src pixel = (floor(x*w/16), floor(y*h/12)),
    * value = (id + 7*sx + 13*sy) mod 251), so the oracle recomputes the
    * resized pixel sums with two range cross joins and zero image
    * libraries — bit-exact because PNG is lossless.
    */
  private def multimodalResize: QueryDef =
    QueryDef("multimodal_resize",
      """WITH d AS (SELECT doc_id, (1 + doc_id % 64) AS w, (1 + doc_id % 48) AS h FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, tx.x, ty.y
        |  FROM d CROSS JOIN range(0, 16) tx(x) CROSS JOIN range(0, 12) ty(y))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(16 AS INTEGER) AS width, CAST(12 AS INTEGER) AS height,
        |  CAST(SUM((doc_id + 7*((x*w)//16) + 13*((y*h)//12)) % 251) AS BIGINT) AS pixel_sum
        |FROM px GROUP BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.decodeImageFeatures(
        graft.operators.Multimodal.resizeImages(
          graft.operators.Multimodal.imageTable(s, dir), 16, 12))
    }

  /** REAL video frame sampling through the gate (round-6, replacing the
    * byte-split stub): the JDK GIF sequence reader walks each document's
    * animated GIF, every 2nd frame is kept and summarised (dimensions +
    * gray pixel sum) — a flatMap on executors, 1 video row -> n frame
    * rows. Oracle rebuilds the kept frames' pixel sums from the generator
    * formula ((id + 11f + 7x + 13y) mod 251 over the 8x6 grid).
    */
  private def multimodalFrameSample: QueryDef =
    QueryDef("multimodal_frame_sample",
      """WITH v AS (SELECT doc_id, (2 + doc_id % 4) AS nf FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, nf)) AS fi FROM v),
        |k AS (SELECT doc_id, fi FROM f WHERE fi % 2 = 0),
        |px AS (SELECT k.doc_id, k.fi, tx.x, ty.y
        |  FROM k CROSS JOIN range(0, 8) tx(x) CROSS JOIN range(0, 6) ty(y))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(fi AS BIGINT) AS frame_idx,
        |  CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
        |  CAST(SUM((doc_id + 11*fi + 7*x + 13*y) % 251) AS BIGINT) AS pixel_sum
        |FROM px GROUP BY doc_id, fi""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.sampleVideoFrames(
        graft.operators.Multimodal.videoTable(s, dir), stride = 2)
    }

  /** CCNet-style LM quality filter in EXACT integer micro-units: each
    * document's mean add-one-smoothed bigram conditional probability under
    * the corpus's OWN bigram model —
    * `p(w2|w1) ≈ (c(w1,w2)+1)·10⁶ div (c(w1)+V)`, averaged with integer
    * division — so the score is bit-identical on any engine/partitioning
    * (a log-prob double formulation would diverge in the last ulp between
    * Spark and DuckDB libm's). Rank order ≈ the arithmetic-mean variant of
    * perplexity filtering; repetitive in-distribution docs score high,
    * out-of-distribution word salad scores low.
    *
    * Scale shape: bigram extraction is array slicing + one explode (no
    * joins); model counts are two map-side-combinable aggregates; scoring
    * joins bigrams to counts on (w1,w2)/(w1) — hash-partitioned equi-joins
    * — and the vocab size rides as a broadcast scalar. The standard
    * distributed n-gram-LM pipeline at any corpus size.
    */
  /** The DuckDB lm-score chain as a CTE prefix ending at `lm(doc_id,
    * n_bigrams, lm_score_micro)` — shared by text_lm_score and the CCNet
    * bucketing gate that windows over it.
    */
  private val lmScoreDuckCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bi AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2 FROM toks),
      |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY w1, w2),
      |uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bi GROUP BY w1),
      |voc AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      |        FROM (SELECT unnest(t) AS w FROM toks) q),
      |p AS (SELECT b.doc_id, ((big.c12 + 1) * 1000000) // (uni.c1 + voc.v) AS p_micro
      |      FROM bi b JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN voc),
      |lm AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS lm_score_micro
      |FROM p GROUP BY doc_id)""".stripMargin

  /** The Spark lm-score chain (same arithmetic as [[lmScoreDuckCtes]]) —
    * per-doc (doc_id, n_bigrams, lm_score_micro).
    */
  private def lmScoreSparkDf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val bi = toks
      .select(col("doc_id"),
        expr("slice(t, 1, size(t) - 1)").as("a1"),
        expr("slice(t, 2, size(t) - 1)").as("a2"))
      .select(col("doc_id"), explode(arrays_zip(col("a1"), col("a2"))).as("b"))
      .select(col("doc_id"), col("b.a1").as("w1"), col("b.a2").as("w2"))
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val voc = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bi.join(big, Seq("w1", "w2")).join(uni, Seq("w1")).crossJoin(broadcast(voc))
      .select(col("doc_id"),
        expr("((c12 + CAST(1 AS BIGINT)) * CAST(1000000 AS BIGINT)) div (c1 + v)")
          .as("p_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_micro) div count(1)").as("lm_score_micro"))
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n_bigrams"), col("lm_score_micro"))
  }

  /** KNESER-NEY smoothed bigram LM (Kneser & Ney 1995; the smoothing
    * production n-gram quality scorers actually use — add-one, the
    * text_lm_score baseline, systematically over-weights unseen mass):
    * absolute discount D = 0.75 off every seen bigram, the freed mass
    * re-allocated by CONTINUATION probability (how many distinct contexts
    * a word follows — the "San Francisco" correction: 'Francisco' is
    * frequent but predicts almost nothing). All probabilities are exact
    * integer micro-units with floored divisions in a defined order —
    * identical in both engines; per-doc score = mean bigram p_KN.
    *
    * 100 TB shape: three count aggregates over the bigram relation
    * (vocabulary-bounded model state) + one broadcast-join scoring pass.
    */
  private[queries] def knBiCtes(d: Dialect): String =
    s"""tk AS (${d.explodeSelect("doc_id", "documents",
         F.shingles(d, F.tokens(d, "text"), 2), "s")}),
       |bi AS (SELECT doc_id, ${d.elem(d.splitWs("s"), "1")} AS w1,
       |    ${d.elem(d.splitWs("s"), "2")} AS w2 FROM tk)""".stripMargin

  /** The vocabulary-bounded KN model chain over a bigram relation
    * `biRef` — ends at `pkn(w1, w2, p_micro)`. */
  private[queries] def knModelCtes(d: Dialect, biRef: String): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM $biRef
       |  GROUP BY w1, w2),
       |cx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |    CAST(COUNT(*) AS BIGINT) AS nfwd FROM cb GROUP BY w1),
       |cc AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont FROM cb
       |  GROUP BY w2),
       |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM cb),
       |pkn AS (SELECT cb.w1, cb.w2,
       |    (CASE WHEN cb.c12 * 1000000 - 750000 > 0
       |       THEN cb.c12 * 1000000 - 750000 ELSE 0 END) $idiv cx.c1
       |    + (((750000 * cx.nfwd) $idiv cx.c1)
       |       * ((cc.ncont * 1000000) $idiv ct.ntypes)) $idiv 1000000
       |      AS p_micro
       |  FROM cb JOIN cx ON cx.w1 = cb.w1 JOIN cc ON cc.w2 = cb.w2
       |  CROSS JOIN ct)""".stripMargin
  }

  private[queries] def knCtes(d: Dialect): String =
    s"${knBiCtes(d)},\n${knModelCtes(d, "bi")}"

  private def knTail(d: Dialect, biRef: String, pknRef: String): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    // pkn is vocabulary-bounded model state — broadcast it so the
    // corpus-sized bigram side never shuffles (Spark can't infer the
    // relation's size through the aggregate chain; DuckDB needs no hint)
    val hint = if (d == SparkDialect) "/*+ BROADCAST(p) */ " else ""
    s"""SELECT $hint CAST(b.doc_id AS BIGINT) AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(p.p_micro) $idiv COUNT(*) AS BIGINT) AS kn_score_micro
       |FROM $biRef b JOIN $pknRef p ON p.w1 = b.w1 AND p.w2 = b.w2
       |GROUP BY b.doc_id""".stripMargin
  }

  private def textKnScoreDef: QueryDef =
    QueryDef("text_kn_score",
      s"""WITH ${knCtes(DuckDialect)}
         |${knTail(DuckDialect, "bi", "pkn")}""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      val d = SparkDialect
      // every model CTE re-inlines its inputs per reference in Spark —
      // the one-statement form re-ran the token explode 10x (measured
      // 6.5s at sf0.1); materialize the bigram relation and the
      // vocabulary-sized model once
      Stage.view("graft_kn_bi", s.sql(s"WITH ${knBiCtes(d)} SELECT doc_id, w1, w2 FROM bi"))
      Stage.view("graft_kn_p",
        s.sql(s"WITH ${knModelCtes(d, "graft_kn_bi")} SELECT w1, w2, p_micro FROM pkn"))
      s.sql(knTail(d, "graft_kn_bi", "graft_kn_p"))
    }

  /** Trigram relation (doc_id, w1, w2, w3) from 3-token shingles — the
    * [[knBiCtes]] shape one order up. */
  private[queries] def kn3TriCtes(d: Dialect): String =
    s"""tk3 AS (${d.explodeSelect("doc_id", "documents",
         F.shingles(d, F.tokens(d, "text"), 3), "s")}),
       |tri AS (SELECT doc_id, ${d.elem(d.splitWs("s"), "1")} AS w1,
       |    ${d.elem(d.splitWs("s"), "2")} AS w2,
       |    ${d.elem(d.splitWs("s"), "3")} AS w3 FROM tk3)""".stripMargin

  /** The RECURSIVE Kneser-Ney trigram backoff chain (Kneser & Ney 1995;
    * Chen & Goodman 1999 interpolated form) over `triRef` — three model
    * levels under the bigram gate's exact-integer micro-unit discipline:
    *
    *  - trigram level: RAW counts c(w1w2w3), discount D = 0.75, backoff
    *    weight D·N1+(w1w2·)/c(w1w2);
    *  - bigram level: CONTINUATION counts N1+(·w2w3) (how many distinct
    *    left contexts the bigram completes — the "San Francisco"
    *    correction applied mid-chain), discounted the same way, backoff
    *    D·N1+c(w2·)/N1+(·w2·);
    *  - unigram level: continuation probability N1+(·w3)/|bigram types|.
    *
    * All divisions floored in a defined order (micro-units) — identical
    * in both engines. Ends at `pkn3(w1, w2, w3, p_micro)`. Vocabulary-
    * bounded model state at every level: c3/n1l are n-gram-type-sized,
    * the scoring pass below is one broadcast join.
    */
  private[queries] def kn3ModelCtes(d: Dialect, triRef: String): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""c3 AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c123 FROM $triRef
       |  GROUP BY w1, w2, w3),
       |c12 AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12,
       |    CAST(COUNT(*) AS BIGINT) AS nfwd12 FROM c3 GROUP BY w1, w2),
       |n1l AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS nl23 FROM c3
       |  GROUP BY w2, w3),
       |n1m AS (SELECT w2, CAST(SUM(nl23) AS BIGINT) AS nm2,
       |    CAST(COUNT(*) AS BIGINT) AS nfwd2 FROM n1l GROUP BY w2),
       |ncw AS (SELECT w3, CAST(COUNT(*) AS BIGINT) AS nc3 FROM n1l GROUP BY w3),
       |nt2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM n1l),
       |pknm AS (SELECT l.w2, l.w3,
       |    (CASE WHEN l.nl23 * 1000000 - 750000 > 0
       |       THEN l.nl23 * 1000000 - 750000 ELSE 0 END) $idiv m.nm2
       |    + (((750000 * m.nfwd2) $idiv m.nm2)
       |       * ((u.nc3 * 1000000) $idiv t.ntypes)) $idiv 1000000 AS p_micro
       |  FROM n1l l JOIN n1m m ON m.w2 = l.w2 JOIN ncw u ON u.w3 = l.w3
       |  CROSS JOIN nt2 t),
       |pkn3 AS (SELECT c3.w1, c3.w2, c3.w3,
       |    (CASE WHEN c3.c123 * 1000000 - 750000 > 0
       |       THEN c3.c123 * 1000000 - 750000 ELSE 0 END) $idiv x.c12
       |    + (((750000 * x.nfwd12) $idiv x.c12) * pm.p_micro) $idiv 1000000
       |      AS p_micro
       |  FROM c3 JOIN c12 x ON x.w1 = c3.w1 AND x.w2 = c3.w2
       |  JOIN pknm pm ON pm.w2 = c3.w2 AND pm.w3 = c3.w3)""".stripMargin
  }

  private def kn3Tail(d: Dialect, triRef: String, pknRef: String): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    val hint = if (d == SparkDialect) "/*+ BROADCAST(p) */ " else ""
    s"""SELECT $hint CAST(b.doc_id AS BIGINT) AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       |  CAST(SUM(p.p_micro) $idiv COUNT(*) AS BIGINT) AS kn3_score_micro
       |FROM $triRef b JOIN $pknRef p
       |  ON p.w1 = b.w1 AND p.w2 = b.w2 AND p.w3 = b.w3
       |GROUP BY b.doc_id""".stripMargin
  }

  private def textKn3ScoreDef: QueryDef =
    QueryDef("text_kn3_score",
      s"""WITH ${kn3TriCtes(DuckDialect)},
         |${kn3ModelCtes(DuckDialect, "tri")}
         |${kn3Tail(DuckDialect, "tri", "pkn3")}""".stripMargin) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      val d = SparkDialect
      // the bigram gate's materialization discipline: one token explode,
      // one model build, each checkpointed once
      Stage.view("graft_kn3_tri",
        s.sql(s"WITH ${kn3TriCtes(d)} SELECT doc_id, w1, w2, w3 FROM tri"))
      Stage.view("graft_kn3_p", s.sql(s"WITH ${kn3ModelCtes(d, "graft_kn3_tri")} " +
          "SELECT w1, w2, w3, p_micro FROM pkn3"))
      s.sql(kn3Tail(d, "graft_kn3_tri", "graft_kn3_p"))
    }

  private def textLmScore: QueryDef =
    QueryDef("text_lm_score",
      s"""WITH $lmScoreDuckCtes
         |SELECT doc_id, n_bigrams, lm_score_micro FROM lm""".stripMargin)(
      (s, dir) => lmScoreSparkDf(s, dir))

  /** CCNet-style HEAD/MIDDLE/TAIL bucketing (Wenzek et al.,
    * arXiv:1911.00359 §4.3): per-LANGUAGE terciles of the corpus-own LM
    * score (text_lm_score's exact integer micro-units), assigned by
    * NTILE(3) over a deterministic total order (score DESC, doc_id) —
    * head = best-scoring third, the slice CCNet keeps unconditionally.
    * Docs with < 2 tokens have no bigrams and no score; they fall out of
    * the chain in BOTH engines (CCNet likewise drops un-scoreable docs).
    *
    * Scale shape: the lm chain is the text_lm_score pipeline (equi-joins +
    * map-side-combinable aggregates); the tercile assignment is one window
    * per language — a range-partitioned sort keyed (lang, score), the same
    * exchange a global ORDER BY would use, but split per language.
    * Production CCNet derives the two thresholds from a fixed-size sample
    * and assigns by comparison (no sort at all); NTILE is the exact-rank
    * form of the same contract, verifiable bit-for-bit.
    */
  private def textCcnetBuckets: QueryDef =
    QueryDef("text_ccnet_buckets",
      s"""WITH $lmScoreDuckCtes,
         |b AS (SELECT lm.doc_id, d.lang, lm.lm_score_micro,
         |    NTILE(3) OVER (PARTITION BY d.lang
         |      ORDER BY lm.lm_score_micro DESC, lm.doc_id) AS nt
         |  FROM lm JOIN documents d ON d.doc_id = lm.doc_id)
         |SELECT doc_id, lang, lm_score_micro,
         |  CASE WHEN nt = 1 THEN 'head' WHEN nt = 2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM b""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions._
      val lang = s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id").cast("long").as("doc_id"), col("lang"))
      lmScoreSparkDf(s, dir).join(lang, Seq("doc_id"))
        .withColumn("nt", expr(
          "NTILE(3) OVER (PARTITION BY lang ORDER BY lm_score_micro DESC, doc_id)"))
        .select(col("doc_id"), col("lang"), col("lm_score_micro"),
          expr("CASE WHEN nt = 1 THEN 'head' WHEN nt = 2 THEN 'middle' " +
            "ELSE 'tail' END").as("bucket"))
    }

  /** REAL image decode through the gate (no stub): deterministic PNGs built
    * with `javax.imageio` on executors, decoded back to width/height/
    * pixel-sum. The pixel formula `(id + 7x + 13y) mod 251` and dimensions
    * `(1 + id mod 64) × (1 + id mod 48)` are SQL-derivable, so the oracle
    * recomputes what the decoder must read WITHOUT an image library —
    * PNG is lossless, the round-trip is exact.
    */
  private def multimodalDecodeImage: QueryDef =
    QueryDef("multimodal_decode_image",
      """WITH dims AS (SELECT doc_id,
        |    CAST(1 + doc_id % 64 AS INTEGER) AS width,
        |    CAST(1 + doc_id % 48 AS INTEGER) AS height
        |  FROM documents),
        |xs AS (SELECT unnest(range(0, 64)) AS x),
        |ys AS (SELECT unnest(range(0, 48)) AS y),
        |px AS (SELECT d.doc_id, d.width, d.height,
        |    CAST((d.doc_id + 7*xs.x + 13*ys.y) % 251 AS BIGINT) AS v
        |  FROM dims d JOIN xs ON xs.x < d.width JOIN ys ON ys.y < d.height)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, width, height,
        |  CAST(SUM(v) AS BIGINT) AS pixel_sum
        |FROM px GROUP BY doc_id, width, height""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.decodeImageFeatures(
        graft.operators.Multimodal.imageTable(s, dir))
    }

  /** REAL image histogram through the gate (round-6): 8-bin grayscale
    * histogram per PNG, computed during decode on executors
    * (Multimodal.imageHistogram) — all 8 bins emitted per image, zeros
    * included, so downstream contrast screens never special-case missing
    * bins. Oracle rebuilds every bin count from the generator formula with
    * a LEFT JOIN against the full doc × bin grid.
    */
  private def multimodalImageHistogram: QueryDef =
    QueryDef("multimodal_image_histogram",
      """WITH dims AS (SELECT doc_id, 1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h FROM documents),
        |bins AS (SELECT unnest(range(0, 8)) AS bin),
        |xs AS (SELECT unnest(range(0, 64)) AS x),
        |ys AS (SELECT unnest(range(0, 48)) AS y),
        |px AS (SELECT d.doc_id, ((d.doc_id + 7*xs.x + 13*ys.y) % 251) // 32 AS b
        |  FROM dims d JOIN xs ON xs.x < d.w JOIN ys ON ys.y < d.h),
        |cnt AS (SELECT doc_id, b, COUNT(*) AS n FROM px GROUP BY doc_id, b)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  CAST(bins.bin AS INTEGER) AS bin,
        |  CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_px
        |FROM (SELECT doc_id FROM documents) d CROSS JOIN bins
        |LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.b = bins.bin""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.imageHistogram(
        graft.operators.Multimodal.imageTable(s, dir))
    }

  /** DuckDB-side perceptual-hash reconstruction: the 8×8 block means from
    * the pixel formula, global mean, bit pack into two 32-bit halves —
    * ends in relation `ph(doc_id, width, height, phash_hi, phash_lo)`.
    * Mirrors [[graft.operators.Multimodal.imagePHash]] integer for
    * integer (floor divisions, degenerate-block clamp).
    */
  private def phashOracleCtes: String = phashOracleCtesFor("doc_id")

  /** The aHash oracle CTEs with the image CONTENT id decoupled from the
    * arrival key: `content` is the id the pixel generator runs on (the
    // streaming image-ingest gate re-crawls content under many doc_ids).
    */
  private[queries] def phashOracleCtesFor(content: String): String =
    s"""dims AS (SELECT doc_id, $content AS cid, 1 + ($content) % 64 AS w,
      |    1 + ($content) % 48 AS h FROM documents),""".stripMargin +
    """
      |g8 AS (SELECT unnest(range(0, 8)) AS b),
      |xs AS (SELECT unnest(range(0, 64)) AS x),
      |ys AS (SELECT unnest(range(0, 48)) AS y),
      |blk AS (SELECT d.doc_id, d.w, d.h, gy.b AS by, gx.b AS bx,
      |    SUM(CAST((d.cid + 7*xs.x + 13*ys.y) % 251 AS BIGINT)) AS s,
      |    COUNT(*) AS n
      |  FROM dims d
      |  JOIN g8 gy ON 1=1 JOIN g8 gx ON 1=1
      |  JOIN ys ON ys.y >= (gy.b * d.h) // 8
      |    AND ys.y < GREATEST(((gy.b + 1) * d.h) // 8, (gy.b * d.h) // 8 + 1)
      |  JOIN xs ON xs.x >= (gx.b * d.w) // 8
      |    AND xs.x < GREATEST(((gx.b + 1) * d.w) // 8, (gx.b * d.w) // 8 + 1)
      |  GROUP BY d.doc_id, d.w, d.h, gy.b, gx.b),
      |bm AS (SELECT doc_id, w, h, by, bx, s // n AS mean FROM blk),
      |gm AS (SELECT doc_id, SUM(mean) // 64 AS m FROM bm GROUP BY doc_id),
      |ph AS (SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
      |    CAST(MIN(b.w) AS INTEGER) AS width, CAST(MIN(b.h) AS INTEGER) AS height,
      |    CAST(SUM(CASE WHEN b.by*8 + b.bx < 32 AND b.mean > gm.m
      |      THEN (CAST(1 AS BIGINT) << (31 - (b.by*8 + b.bx))) ELSE 0 END) AS BIGINT) AS phash_hi,
      |    CAST(SUM(CASE WHEN b.by*8 + b.bx >= 32 AND b.mean > gm.m
      |      THEN (CAST(1 AS BIGINT) << (63 - (b.by*8 + b.bx))) ELSE 0 END) AS BIGINT) AS phash_lo
      |  FROM bm b JOIN gm ON b.doc_id = gm.doc_id
      |  GROUP BY b.doc_id)""".stripMargin

  /** REAL perceptual hash through the gate: decoded-PNG aHash on
    * executors; oracle rebuilds every bit from the generator formula.
    */
  private def multimodalPhashDef: QueryDef =
    QueryDef("multimodal_phash",
      s"""WITH $phashOracleCtes
         |SELECT doc_id, width, height, phash_hi, phash_lo FROM ph""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.imagePHash(
        graft.operators.Multimodal.imageTable(s, dir))
    }

  /** Image NEAR-DUP pairs by perceptual hash: 4 bands of 16 bits → band
    * equi-join candidates (never all-pairs) → Hamming ≤ 10 verify via
    * bit_count(xor) on the two halves. Shared dialect template over a
    * phash relation; the Spark side feeds the REAL decoded hashes, the
    * oracle the formula-derived ones. Sentinel rows (hash −1) are
    * excluded — failed decodes must not band-collide with each other.
    */
  private def imagePhashPairs(d: Dialect, phRel: String): String = {
    val ham = s"${d.bitCount(d.xor("ah", "bh"))} + ${d.bitCount(d.xor("al", "bl"))}"
    s"""WITH pv AS (SELECT doc_id, phash_hi, phash_lo FROM $phRel WHERE phash_hi >= 0),
       |pb AS (
       |  SELECT doc_id, phash_hi, phash_lo, 0 AS band, ${d.shiftRight("phash_hi", "16")} AS bk FROM pv
       |  UNION ALL SELECT doc_id, phash_hi, phash_lo, 1, phash_hi % 65536 FROM pv
       |  UNION ALL SELECT doc_id, phash_hi, phash_lo, 2, ${d.shiftRight("phash_lo", "16")} FROM pv
       |  UNION ALL SELECT doc_id, phash_hi, phash_lo, 3, phash_lo % 65536 FROM pv),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |    x.phash_hi AS ah, x.phash_lo AS al, y.phash_hi AS bh, y.phash_lo AS bl
       |  FROM pb x JOIN pb y ON x.band = y.band AND x.bk = y.bk
       |    AND x.doc_id < y.doc_id)
       |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       |  CAST($ham AS BIGINT) AS hamming
       |FROM cand WHERE $ham <= 10""".stripMargin
  }

  private def dedupImagePhashDef: QueryDef =
    QueryDef("dedup_image_phash",
      s"""WITH $phashOracleCtes,
         |res AS (${imagePhashPairs(DuckDialect, "ph")})
         |SELECT * FROM res""".stripMargin) { (s, dir) =>
      Stage.view("graft_phash", graft.operators.Multimodal.imagePHash(
          graft.operators.Multimodal.imageTable(s, dir)))
      s.sql(imagePhashPairs(SparkDialect, "graft_phash"))
    }

  /** DuckDB-side keyframe-fingerprint reconstruction: the per-frame
    * polynomial hash replayed from the GIF generator formula
    * `(id + 11f + 7x + 13y) mod 251` over row-major 8×6 pixels — ends in
    * relation `fh(doc_id, frame_idx, fhash)`.
    */
  private def frameHashOracleCtes: String =
    """vp AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
      |fgrid AS (SELECT unnest(range(0, 8)) AS f),
      |fh AS (SELECT vp.doc_id, CAST(fgrid.f AS INTEGER) AS frame_idx,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, 48),
      |        i -> (vp.doc_id + 11*fgrid.f + 7*(i % 8) + 13*(i // 8)) % 251)),
      |      (acc, x) -> (acc*31 + x) % 2147483647) AS fhash
      |  FROM vp JOIN fgrid ON fgrid.f < vp.nf)""".stripMargin

  /** REAL keyframe fingerprints through the gate: decoded-GIF frame hashes
    * on executors; oracle replays the generator formula.
    */
  private def multimodalFrameHashDef: QueryDef =
    QueryDef("multimodal_frame_hash",
      s"""WITH $frameHashOracleCtes
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, frame_idx,
         |  CAST(fhash AS BIGINT) AS fhash FROM fh""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.videoFrameHashes(
        graft.operators.Multimodal.videoTable(s, dir))
    }

  /** Video NEAR-DUP pairs by shared keyframes: an equi-join on the frame
    * fingerprint (never all-pairs — the hash IS the blocking key), pairs
    * kept when ≥ 2 DISTINCT frames match. Pure ANSI template shared
    * verbatim by both engines over their frame-hash relations; sentinel
    * rows (fhash −1) excluded so failed decodes never pair.
    */
  private def videoDupPairsSelect(fhRel: String): String =
    s"""SELECT CAST(a.doc_id AS BIGINT) AS a, CAST(b.doc_id AS BIGINT) AS b,
       |  CAST(COUNT(DISTINCT a.fhash) AS BIGINT) AS n_shared
       |FROM (SELECT doc_id, fhash FROM $fhRel WHERE fhash >= 0) a
       |JOIN (SELECT doc_id, fhash FROM $fhRel WHERE fhash >= 0) b
       |  ON a.fhash = b.fhash AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING COUNT(DISTINCT a.fhash) >= 2""".stripMargin

  private def dedupVideoFramesDef: QueryDef =
    QueryDef("dedup_video_frames",
      s"""WITH $frameHashOracleCtes
         |${videoDupPairsSelect("fh")}""".stripMargin) { (s, dir) =>
      Stage.view("graft_frame_hash", graft.operators.Multimodal.videoFrameHashes(
          graft.operators.Multimodal.videoTable(s, dir)))
      s.sql(videoDupPairsSelect("graft_frame_hash"))
    }

  /** DuckDB-side audio-fingerprint reconstruction: per-frame energies from
    * the WAV generator formula `v(id, n) = ((id·31 + 17n) mod 2048) − 1024`
    * over 8-sample windows; delta-sign bits via a LEAD window and
    * above-mean bits via the per-doc total (integer-exact `e·nf > Σe`) —
    * ends in relation `af(doc_id, n_frames, afp)`. Zero audio libraries.
    */
  private def audioFpOracleCtes: String =
    """ad AS (SELECT doc_id, 64 + doc_id % 128 AS ns FROM documents),
      |fj AS (SELECT doc_id, unnest(range(0, ns // 8)) AS j FROM ad),
      |en AS (SELECT doc_id, j, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(0, 8),
      |      k -> (((doc_id*31 + 17*(8*j+k)) % 2048) - 1024)
      |         * (((doc_id*31 + 17*(8*j+k)) % 2048) - 1024))),
      |    (acc, x) -> acc + x) AS e FROM fj),
      |eb AS (SELECT doc_id, j, e,
      |    LEAD(e) OVER (PARTITION BY doc_id ORDER BY j) AS e2,
      |    SUM(e) OVER (PARTITION BY doc_id) AS te,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS nf FROM en),
      |af AS (SELECT doc_id, CAST(MAX(nf) AS BIGINT) AS n_frames,
      |    CAST(SUM(CASE WHEN j < 16 AND e2 IS NOT NULL AND e2 > e
      |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
      |    + SUM(CASE WHEN j < 16 AND e * nf > te
      |      THEN (CAST(1 AS BIGINT) << (j + 16)) ELSE 0 END) AS BIGINT) AS afp
      |  FROM eb GROUP BY doc_id)""".stripMargin

  /** REAL audio fingerprints through the gate: decoded-WAV energy-delta
    * sign bits on executors (Multimodal.audioFingerprint); oracle replays
    * the synth formula.
    */
  private def multimodalAudioFpDef: QueryDef =
    QueryDef("multimodal_audio_fp",
      s"""WITH $audioFpOracleCtes
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_frames, afp FROM af""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.audioFingerprint(
        graft.operators.Multimodal.audioTable(s, dir))
    }

  /** Audio DEDUP by exact fingerprint match — the AcoustID-style lookup
    * shape: all docs whose 32-bit acoustic fingerprints collide form a
    * cluster; keeper = lowest doc_id, sentinel rows (afp −1) excluded so
    * failed decodes never cluster. The synthetic corpus genuinely contains
    * phase-shifted near-copies of the same waveform, so clusters are
    * non-trivial by construction. Pure ANSI template shared verbatim by
    * both engines over their fingerprint relations.
    *
    * 100 TB shape: ONE hash-partitioned groupBy on the fingerprint (the
    * dedup_exact shape, with the REAL codec pass in front) — no pairwise
    * step at all; at scale the fingerprint is the blocking key and an
    * optional in-cluster verify rides the bounded cluster, exactly like
    * dedup_exact → dedup_minhash_lsh.
    */
  private def audioFpClustersSelect(afRel: String): String =
    s"""SELECT CAST(afp AS BIGINT) AS afp,
       |  CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_copies
       |FROM $afRel WHERE afp >= 0
       |GROUP BY afp HAVING COUNT(*) > 1""".stripMargin

  private def dedupAudioFpDef: QueryDef =
    QueryDef("dedup_audio_fp",
      s"""WITH $audioFpOracleCtes
         |${audioFpClustersSelect("af")}""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.audioFingerprint(
          graft.operators.Multimodal.audioTable(s, dir))
        .createOrReplaceTempView("graft_audio_fp")
      s.sql(audioFpClustersSelect("graft_audio_fp"))
    }

  /** REAL WAV decode (javax.sound.sampled — the JDK's codec): sample rate,
    * frame count and integer absolute-amplitude sum read back from
    * RIFF/WAVE bytes synthesized deterministically per document. The
    * oracle recomputes the amplitude sum from the generating formula in
    * plain SQL; PCM is lossless so the round-trip is exact.
    */
  private def multimodalDecodeAudio: QueryDef =
    QueryDef("multimodal_decode_audio",
      """WITH p AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
        |ns AS (SELECT unnest(range(0, 192)) AS i),
        |samp AS (SELECT p.doc_id, p.n,
        |    abs(((p.doc_id*31 + 17*ns.i) % 2048) - 1024) AS a
        |  FROM p JOIN ns ON ns.i < p.n)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples, CAST(SUM(a) AS BIGINT) AS abs_sum
        |FROM samp GROUP BY doc_id, n""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.decodeAudioFeatures(
        graft.operators.Multimodal.audioTable(s, dir))
    }

  /** REAL audio ANALYSIS through the gate (round-6): zero-crossing count +
    * integer energy over the decoded PCM — the signal statistics an audio
    * quality filter computes after decode (Multimodal.analyzeAudio, JDK WAV
    * codec on executors). The oracle replays the sample synth formula
    * `((id*31 + 17i) mod 2048) - 1024` and a lag() window for the sign
    * changes — zero audio libraries, exact because PCM is lossless.
    */
  private def multimodalAudioFeatures: QueryDef =
    QueryDef("multimodal_audio_features",
      """WITH p AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
        |ns AS (SELECT unnest(range(0, 192)) AS i),
        |samp AS (SELECT p.doc_id, p.n, ns.i,
        |    ((p.doc_id*31 + 17*ns.i) % 2048) - 1024 AS v
        |  FROM p JOIN ns ON ns.i < p.n),
        |x AS (SELECT doc_id, n, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM samp)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(SUM(CASE WHEN pv IS NOT NULL AND (v < 0) <> (pv < 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(SUM(v*v) AS BIGINT) AS energy_sum
        |FROM x GROUP BY doc_id, n""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.analyzeAudio(
        graft.operators.Multimodal.audioTable(s, dir))
    }

  /** REAL multi-frame GIF decode (javax.imageio — the JDK's codec): frame
    * count, dimensions and gray pixel sum across all frames read back from
    * animated-GIF bytes synthesized deterministically per document. The
    * identity gray palette makes the round-trip bit-exact, so the oracle
    * recomputes the pixel sum from the generating formula in plain SQL.
    */
  private def multimodalDecodeVideo: QueryDef =
    QueryDef("multimodal_decode_video",
      """WITH p AS (SELECT doc_id, 2 + doc_id % 4 AS f FROM documents),
        |fs AS (SELECT unnest(range(0, 6)) AS fi),
        |ys AS (SELECT unnest(range(0, 6)) AS y),
        |xs AS (SELECT unnest(range(0, 8)) AS x),
        |px AS (SELECT p.doc_id, p.f,
        |    (p.doc_id + 11*fs.fi + 7*xs.x + 13*ys.y) % 251 AS v
        |  FROM p JOIN fs ON fs.fi < p.f CROSS JOIN ys CROSS JOIN xs)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(f AS INTEGER) AS n_frames,
        |  CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
        |  CAST(SUM(v) AS BIGINT) AS pixel_sum
        |FROM px GROUP BY doc_id, f""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.decodeVideoFeatures(
        graft.operators.Multimodal.videoTable(s, dir))
    }

  /** CDC latest-state compaction: each user's single most recent event
    * (ts desc, event_id desc tie-break) — the upsert-materialization shape
    * of change-data capture. Runs on the NATIVE top-k operator with k=1:
    * the map-side cap reduces each partition to one row per user before
    * the exchange, exactly the "compact the changelog" access pattern.
    */
  private def eventsLatestState: QueryDef =
    QueryDef("events_latest_state",
      """SELECT CAST(user_id AS BIGINT) AS user_id, ts,
        |  CAST(event_id AS BIGINT) AS event_id, event_type, value
        |FROM (SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rnk
        |  FROM events) t WHERE rnk = 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.col
      graft.operators.TopK.perGroup(
          Tables.load(s, dir, "events")
            .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type"), col("value")),
          Seq("user_id"),
          Seq("ts" -> false, "event_id" -> false), k = 1)
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("event_id").cast("long").as("event_id"),
          col("event_type"), col("value"))
    }

  /** SCD TYPE-2 materialization of the events changelog (round-6): each
    * event becomes a VERSION ROW with a validity interval — valid_from =
    * its ts, valid_to = the user's next event ts (NULL while current),
    * is_current flagging the open version. The full-history companion to
    * events_latest_state (which keeps only the newest row): the shape a
    * warehouse dimension table takes under change-data capture. One window
    * shuffle on user_id at any scale; ties broken by event_id so the
    * version chain is deterministic.
    *
    * ZERO-WIDTH VERSION CONTRACT: when a user has two events at the same
    * ts, the lower-event_id version gets valid_from = valid_to — under the
    * half-open [valid_from, valid_to) interval convention it is never the
    * valid row at any instant (the higher event_id wins the timestamp),
    * which is the standard warehouse treatment of same-instant updates.
    * Point-in-time lookups must therefore filter
    * `valid_from <= t AND (valid_to IS NULL OR valid_to > t)` — the
    * half-open probe — rather than a closed-interval BETWEEN, which would
    * double-count the zero-width row exactly at the tie instant
    * (spec-pinned in QueriesSpec's version-chain invariants).
    */
  private def eventsScd2(d: Dialect): String =
    """SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(event_id AS BIGINT) AS event_id,
      |  event_type, value,
      |  ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |  CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
      |FROM events""".stripMargin

  /** Session windows over the events stream table (30-minute inactivity
    * gap) — Spark's session_window vs a gaps-and-islands oracle. At scale:
    * one shuffle on user_id; state per active session only in streaming.
    */
  private def eventsSessionWindow: QueryDef =
    QueryDef("events_session_window",
      """WITH x AS (SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
        |y AS (SELECT user_id, ts, value,
        |    SUM(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT CAST(user_id AS BIGINT) AS user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM y GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      graft.streaming.EventStreams.sessionWindows(
        Tables.load(s, dir, "events"), "30 minutes")
    }

  /** Per-label embedding centroids, emitted as (label, dim, component) rows.
    *
    * Shape: explode the vector over its 64 dims, then ONE hash aggregate on
    * (label, dim) — map-side partial aggregation collapses each partition to
    * at most |labels|×dim rows before the shuffle, so the exchange is O(
    * groups × partitions) regardless of row count: the 100 TB path for any
    * model-state computation over embeddings (k-means steps, per-class
    * means). Components are quantized to exact integer micro-units —
    * `ROUND(double·10⁶)` is bit-identical across engines here because every
    * `.5` tie below 2⁵³ is exactly representable and both engines round it
    * away from zero (DuckDB's direct FLOAT→DECIMAL cast is NOT safe: it
    * scales in float arithmetic and diverges from Spark's string-based
    * decimal conversion in the low digits) — summed exactly as BIGINT, and
    * divided once as double.
    */
  private def embCentroids(d: Dialect): String = {
    val micro =
      s"CAST(ROUND(CAST(${d.elem("embedding", "i")} AS DOUBLE) * 1000000.0) AS BIGINT)"
    s"""WITH e AS (${d.explodeSelect("label, embedding", "embeddings",
                     d.seq("1", DIM.toString), "i")})
       |SELECT label, CAST(i AS INTEGER) AS dim,
       |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM($micro) AS DOUBLE)
       |    / (1000000.0 * CAST(COUNT(*) AS DOUBLE)) AS centroid
       |FROM e GROUP BY label, i""".stripMargin
  }

  private val CHUNK = 32  // tokens per training chunk
  private val STRIDE = 16 // chunk stride (50% overlap)

  /** Sliding-window document chunking (the standard LLM-pretraining
    * tokenize-and-chunk step): fixed-size token windows every STRIDE tokens;
    * the final window truncates at the document tail, and documents shorter
    * than one window yield a single short chunk. Pure per-row explode — no
    * shuffle at all; at 100 TB this is a map-only stage that parallelizes
    * with the input splits.
    */
  /** The chunking tail stages over a `(doc_id, toks)` CTE — shared by the
    * standalone gate and the end-to-end preprocessing pipeline.
    */
  private def chunkStages(d: Dialect, srcCte: String): String = {
    val nchunks =
      s"CASE WHEN ${d.len("toks")} <= $CHUNK THEN 1 ELSE " +
        s"CAST(CEIL(CAST(${d.len("toks")} - $CHUNK AS DOUBLE) / $STRIDE) AS INTEGER) + 1 END"
    val slice = d.slice("toks", s"k * $STRIDE + 1", CHUNK.toString)
    s"""e AS (${d.explodeSelect("doc_id, toks", srcCte, d.seq("0", s"($nchunks) - 1"), "k")})
       |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
       |  CAST(${d.len(slice)} AS BIGINT) AS n_tokens,
       |  ${d.joinWs(slice)} AS chunk
       |FROM e""".stripMargin
  }

  private def corpusChunk(d: Dialect): String =
    s"""WITH t AS (SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM documents),
       |${chunkStages(d, "t")}""".stripMargin

  /** CONTENT-DEFINED CHUNKING (the FastCDC/rolling-hash family, over
    * tokens): a chunk boundary opens before token i wherever the
    * (token[i-1], token[i]) bigram's deterministic hash lands in 1/G of
    * the hash space — boundaries are a function of LOCAL CONTENT, not
    * position. Insert one sentence at the head of a document and every
    * fixed-size chunk (corpus_chunk) shifts — chunk-level dedup misses
    * all of them; CDC boundaries re-align within ~one chunk, leaving the
    * downstream chunks byte-identical. Expected chunk length ≈ G tokens.
    *
    * Scale shape: the whole operator is per-document projection work —
    * higher-order functions compute boundary positions over the token
    * array, slice assembles chunks, one explode emits rows. No window,
    * no join, no shuffle anywhere: chunking 100 TB is map-only.
    */
  private def corpusCdcChunk(d: Dialect): String = {
    val G = 8
    // each token hashed ONCE (cheap char-polynomial — the md5 fold per
    // BIGRAM measured 25× the whole fixed-stride chunker), then the pair
    // combine is two integer ops. Lambda variable is `bi`, not `i`: the
    // hash's own fold binds `i` and shadowing would rebind the token index.
    val tokHashes = d.transform("toks", "w", F.strHashCheap(d, "w"))
    val pair = s"${d.elem("hs", "bi - 1")} * 31 + ${d.elem("hs", "bi")}"
    val boundaries = d.filter(
      d.transform(d.seq("2", d.len("hs")), "bi",
        s"CASE WHEN ($pair) % $G = 0 THEN bi ELSE NULL END"),
      "x", "x IS NOT NULL")
    val start = d.elem("starts", "k")
    val end = s"CASE WHEN k < ${d.len("starts")} " +
      s"THEN ${d.elem("starts", "k + 1")} - 1 ELSE ${d.len("toks")} END"
    s"""WITH t AS (SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM documents),
       |h AS (SELECT doc_id, toks, $tokHashes AS hs FROM t),
       |b AS (SELECT doc_id, toks, ${d.prepend(boundaries, "1")} AS starts FROM h),
       |e AS (${d.explodeSelect("doc_id, toks, starts", "b", d.seq("1", d.len("starts")), "k")})
       |SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_idx,
       |  CAST(($end) - $start + 1 AS BIGINT) AS n_tokens,
       |  ${d.joinWs(d.slice("toks", start, s"($end) - $start + 1"))} AS chunk
       |FROM e""".stripMargin
  }

  /** Per-document top-3 terms by tf-idf with RAW inverse document frequency
    * (score = tf/df): the ratio of two exactly-representable counts is ONE
    * correctly-rounded IEEE division, so ranking and the emitted score are
    * bit-identical across engines (a log-damped idf would hang the gate on
    * cross-engine `ln` ulp differences; the ranking this produces is the
    * same monotone family). Ties break on the term for a deterministic
    * top-k.
    *
    * Scale shape: tf = one (doc, term) hash aggregate; df = one term
    * aggregate OVER THE TF TABLE (not the raw token stream — df counts
    * documents, and tf is already distinct-per-doc); the rank is a
    * PARTITIONED window (per-doc heaps, no global sort). The tf aggregate
    * is materialized once on the Spark side — it feeds both the df branch
    * and the scoring join, and Catalyst inlines twice-referenced CTEs.
    */
  private def tfidfSql(d: Dialect, tfSrc: Option[String] = None): String = {
    val tf = tfSrc.getOrElse(tfSql(d))
    s"""WITH tf AS ($tf),
       |idf AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tk),
       |scored AS (SELECT t.doc_id, t.tk, CAST(t.tf AS BIGINT) AS tf, i.df,
       |    CAST(t.tf AS DOUBLE) / CAST(i.df AS DOUBLE) AS score
       |  FROM tf t JOIN idf i ON t.tk = i.tk),
       |r AS (SELECT doc_id, tk, tf, df, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tk ASC) AS rn
       |  FROM scored)
       |SELECT doc_id, tk AS term, tf, df, score FROM r WHERE rn <= 3""".stripMargin
  }

  /** Shannon entropy (nats) of each document's token distribution — the
    * classic repetition/quality signal (low entropy = TEMPLATE/SPAM-like).
    *
    * Cross-engine float discipline: `ln` is NOT bit-identical between
    * engines (measured: ~0.05% of random ratios differ by 1 ulp between
    * glibc and the JVM intrinsic), so each term's contribution
    * p·(−ln p) is QUANTIZED to integer micro-nats (ROUND boundary flip
    * odds ~1e-10/term) and summed exactly as BIGINT — order-independent
    * and stable where a raw double Σ would hash-mismatch.
    *
    * Scale shape: same two hash aggregates as tf-idf (tf per (doc, term),
    * then per-doc totals), one join, map-side combinable throughout.
    */
  /** The (doc_id, tk, tf) term-frequency aggregate — the shared first stage
    * of tf-idf and entropy.
    */
  private def tfSql(d: Dialect): String =
    s"""SELECT doc_id, tk, COUNT(*) AS tf
       |FROM (${d.explodeSelect("doc_id", "documents", F.tokens(d, "text"), "tk")}) tok
       |GROUP BY doc_id, tk""".stripMargin

  /** Spark-side materialization of [[tfSql]]: both downstream queries
    * reference tf twice (scoring join + df/total branch) and Catalyst
    * inlines 2-ref CTEs, so the aggregate is persisted once per gate
    * (released by the harness's per-query clearCache).
    */
  private def cachedTf(s: SparkSession, dir: String): String = {
    Stage.tables(s, dir, "documents")
    s.sql(tfSql(SparkDialect)).persist().createOrReplaceTempView("graft_tf")
    "SELECT doc_id, tk, tf FROM graft_tf"
  }

  private def textEntropySql(d: Dialect, tfSrc: Option[String] = None): String = {
    val tf = tfSrc.getOrElse(tfSql(d))
    val p = "(CAST(t.tf AS DOUBLE) / CAST(n.n AS DOUBLE))"
    s"""WITH tf AS ($tf),
       |n AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n,
       |    CAST(COUNT(*) AS BIGINT) AS n_distinct FROM tf GROUP BY doc_id),
       |e AS (SELECT t.doc_id,
       |    SUM(CAST(ROUND($p * (-ln($p)) * 1000000.0) AS BIGINT)) AS micro
       |  FROM tf t JOIN n ON t.doc_id = n.doc_id GROUP BY t.doc_id)
       |SELECT e.doc_id, n.n AS n_tokens, n.n_distinct,
       |  CAST(e.micro AS DOUBLE) / 1000000.0 AS entropy_nats
       |FROM e JOIN n ON e.doc_id = n.doc_id""".stripMargin
  }

  private def textEntropyDef: QueryDef =
    QueryDef("text_entropy", textEntropySql(DuckDialect)) { (s, dir) =>
      s.sql(textEntropySql(SparkDialect, Some(cachedTf(s, dir))))
    }

  private def textTfidfDef: QueryDef =
    QueryDef("text_tfidf", tfidfSql(DuckDialect)) { (s, dir) =>
      s.sql(tfidfSql(SparkDialect, Some(cachedTf(s, dir))))
    }

  /** BM25 RETRIEVAL SCORING (k1 = 1.2, b = 0.75) — the lexical-retrieval
    * ranking function behind every search-based data-curation loop: for the
    * 3 highest-df query terms, the top-10 documents by
    * `idf · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))`.
    *
    * Cross-engine float discipline (see [[textEntropySql]]): the `ln` in
    * idf is NOT bit-identical between engines, so it is QUANTIZED to
    * integer micro-nats once per term (boundary-flip odds ~1e-10); the
    * saturation factor is pure scalar double arithmetic over integers
    * (mul/div/add are exactly rounded per IEEE 754 — bit-identical given
    * the same expression tree), and no double is ever SUMmed.
    *
    * Scale shape: tf/df/dl are the same map-side-combinable hash
    * aggregates tf-idf uses; `stats` is a 1-row broadcast; the query-term
    * join is a 3-row broadcast; ranking is a per-term window whose input
    * was pre-filtered to the query terms — no full-corpus sort.
    */
  private def bm25Sql(d: Dialect, tfSrc: Option[String] = None): String = {
    val tf = tfSrc.getOrElse(tfSql(d))
    val avgdlRatio = "(CAST(dl.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE) / CAST(s.total_len AS DOUBLE))"
    s"""WITH tf AS ($tf),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
       |df AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tk),
       |q AS (SELECT tk FROM df ORDER BY df DESC, tk ASC LIMIT 3),
       |scored AS (SELECT t.tk, t.doc_id, CAST(t.tf AS BIGINT) AS tf, dl.dl,
       |    CAST(ROUND(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
       |        / (CAST(f.df AS DOUBLE) + 0.5)) * 1000000.0) AS BIGINT) AS idf_micro,
       |    (CAST(t.tf AS DOUBLE) * 2.2)
       |      / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * $avgdlRatio)) AS sat
       |  FROM tf t JOIN q ON t.tk = q.tk JOIN df f ON t.tk = f.tk
       |  JOIN dl ON t.doc_id = dl.doc_id CROSS JOIN stats s),
       |r AS (SELECT tk, doc_id, tf, dl,
       |    CAST(idf_micro AS DOUBLE) * sat / 1000000.0 AS score
       |  FROM scored),
       |w AS (SELECT tk, doc_id, tf, dl, score,
       |    ROW_NUMBER() OVER (PARTITION BY tk ORDER BY score DESC, doc_id ASC) AS rn
       |  FROM r)
       |SELECT tk AS term, CAST(doc_id AS BIGINT) AS doc_id, tf,
       |  dl AS doc_len, score
       |FROM w WHERE rn <= 10""".stripMargin
  }

  private def textBm25Def: QueryDef =
    QueryDef("text_bm25", bm25Sql(DuckDialect)) { (s, dir) =>
      s.sql(bm25Sql(SparkDialect, Some(cachedTf(s, dir))))
    }

  /** ANN EVALUATION — recall@3 of the LSH index against the exact top-3,
    * per query: the quality-measurement operator every ANN deployment runs
    * before trusting an index. Composes the two gate-verified similarity
    * templates (same query set: vec_id % 50); recall = |ANN ∩ exact| / 3 as
    * an exact small-int division (bit-identical).
    */
  private def simAnnRecall(d: Dialect): String =
    s"""WITH bf AS (${bruteForceTopkSql(d, 50, 3)}),
       |ann AS (${simAnnLsh(d)})
       |SELECT bf.qid, CAST(COUNT(ann.nid) AS BIGINT) AS hits,
       |  CAST(COUNT(ann.nid) AS DOUBLE) / 3.0 AS recall_at_3
       |FROM bf LEFT JOIN ann ON bf.qid = ann.qid AND bf.nid = ann.nid
       |GROUP BY bf.qid""".stripMargin

  /** MATRYOSHKA TRUNCATION EVAL: recall@3 of exact cosine search over the
    * FIRST 16 DIMENSIONS against the full-64-dim exact top-3 — the
    * measurement behind dimension-truncated serving (store/search a
    * prefix of each vector, re-rank with the full vector only on the
    * shortlist). At 100 TB the prefix index is 4× smaller and the eval
    * tells you what that costs in recall; both sides are deterministic
    * defined-order folds.
    */
  private def simMatryoshkaRecall(d: Dialect): String = {
    // the vectors must be PHYSICALLY truncated: F.dot's Spark side is the
    // native graft_dot over the WHOLE array (its n parameter bounds only
    // the oracle fold), so both engines get 16-element arrays up front
    val trunc = d.slice("embedding", "1", "16")
    val cosT = s"CASE WHEN qn * en > 0 THEN (${F.dot(d, "qv", "ev", 16)}) / (qn * en) ELSE 0.0 END"
    s"""WITH bf AS (${bruteForceTopkSql(d, 50, 3)}),
       |et AS (SELECT vec_id, $trunc AS embedding,
       |    ${F.norm(d, trunc, 16)} AS nrm
       |  FROM embeddings),
       |qt AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM et
       |  WHERE vec_id % 50 = 0),
       |ts AS (SELECT qid, e.vec_id AS nid, $cosT AS score
       |  FROM qt CROSS JOIN (SELECT vec_id, embedding AS ev, nrm AS en FROM et) e
       |  WHERE e.vec_id <> qid),
       |tt AS (SELECT qid, nid FROM (SELECT qid, nid,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
       |  FROM ts) r WHERE rnk <= 3)
       |SELECT CAST(bf.qid AS BIGINT) AS qid,
       |  CAST(COUNT(tt.nid) AS BIGINT) AS hits,
       |  CAST(COUNT(tt.nid) AS DOUBLE) / 3.0 AS recall_at_3
       |FROM bf LEFT JOIN tt ON tt.qid = bf.qid AND tt.nid = bf.nid
       |GROUP BY bf.qid""".stripMargin
  }

  /** MATRYOSHKA TWO-STAGE SERVING (round-9): the truncation EVAL turned
    * into an OPERATOR — shortlist by exact cosine over the FIRST 16
    * DIMENSIONS (the 4×-cheaper prefix scan sim_matryoshka_recall
    * evaluates), then re-rank the `$RefineN`-deep shortlist alone by the
    * FULL-64-dim cosine via the shared refine pattern ([[rankTopN]] +
    * [[cosScoredSel]], the sim_ivf_pq_refine join shape); final = top-3
    * by full-dim score. At 100 TB: stage 1 reads a 4×-smaller prefix
    * index (and composes with any shortlister — IVF cells, LSH buckets);
    * stage 2 touches |queries| × $RefineN full vectors, never the corpus.
    */
  private def simMatryoshkaServeCtes(d: Dialect): String = {
    val trunc = d.slice("embedding", "1", "16")
    val cosT = s"CASE WHEN qn * en > 0 THEN (${F.dot(d, "qv", "ev", 16)}) / (qn * en) ELSE 0.0 END"
    s"""et AS (SELECT vec_id, $trunc AS embedding,
       |    ${F.norm(d, trunc, 16)} AS nrm
       |  FROM embeddings),
       |qt AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM et
       |  WHERE vec_id % 50 = 0),
       |ts AS (SELECT qid, e.vec_id AS nid, $cosT AS score
       |  FROM qt CROSS JOIN (SELECT vec_id, embedding AS ev, nrm AS en FROM et) e
       |  WHERE e.vec_id <> qid),
       |short AS (SELECT qid, nid FROM (
       |    ${rankTopN("SELECT qid, nid, score FROM ts", "score",
                       desc = true, RefineN, "rn")}) s0),
       |ef AS (SELECT vec_id, embedding, ${F.norm(d, "embedding", DIM)} AS nrm
       |  FROM embeddings),
       |qf AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM ef
       |  WHERE vec_id % 50 = 0),
       |serve AS (${rankTopN(
             cosScoredSel(d, "SELECT qid, nid FROM short", "qf", "ef"),
             "score", desc = true, 3)})""".stripMargin
  }

  private def simMatryoshkaServe(d: Dialect): String =
    s"""WITH ${simMatryoshkaServeCtes(d)}
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid,
       |  score, CAST(rnk AS BIGINT) AS rnk
       |FROM serve""".stripMargin

  /** Recall@3 of the two-stage matryoshka serve against the full-dim
    * exact top-3 — the dominance measurement vs the truncated-only eval
    * (spec-asserted: serve recall >= sim_matryoshka_recall per mean, same
    * query set).
    */
  private def simMatryoshkaServeRecall(d: Dialect): String =
    s"""WITH bf AS (${bruteForceTopkSql(d, 50, 3)}),
       |${simMatryoshkaServeCtes(d)}
       |SELECT CAST(bf.qid AS BIGINT) AS qid,
       |  CAST(COUNT(sv.nid) AS BIGINT) AS hits,
       |  CAST(COUNT(sv.nid) AS DOUBLE) / 3.0 AS recall_at_3
       |FROM bf LEFT JOIN (SELECT qid, nid FROM serve) sv
       |  ON sv.qid = bf.qid AND sv.nid = bf.nid
       |GROUP BY bf.qid""".stripMargin

  /** INDEX DELETION (round-9): serving with TOMBSTONES — the
    * right-to-be-forgotten path of an embedding store. At 100 TB a delete
    * never rebuilds the index: deleted ids (here `vec_id % 97 = 0`) become
    * a tombstone set anti-joined at serve time (compaction folds them into
    * the index lazily, offline). The serve is sim_ann_lsh verbatim plus
    * one anti-join on the candidate id — applied AFTER bucket pruning, so
    * its cost tracks the candidate set, never the corpus.
    */
  private def simAnnDelete(d: Dialect): String = {
    val cos = s"CASE WHEN qn * en > 0 THEN (${F.dot(d, "qv", "ev", DIM)}) / (qn * en) ELSE 0.0 END"
    s"""WITH e AS (SELECT vec_id, embedding,
       |    ${F.norm(d, "embedding", DIM)} AS nrm,
       |    ${F.lshBucket(d, "embedding", DIM, 8)} AS bkt FROM embeddings),
       |del AS (SELECT vec_id AS did FROM embeddings WHERE vec_id % 97 = 0),
       |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn, bkt FROM e
       |  WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q.qid, e.vec_id AS nid, $cos AS score
       |  FROM q JOIN (SELECT vec_id, embedding AS ev, nrm AS en, bkt FROM e) e
       |    ON q.bkt = e.bkt AND e.vec_id <> q.qid
       |  LEFT JOIN del ON del.did = e.vec_id
       |  WHERE del.did IS NULL)
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid, score,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM (SELECT qid, nid, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
       |  FROM scored) s
       |WHERE rnk <= 3""".stripMargin
  }

  /** RETRIEVAL-QUALITY METRICS for the ANN index: per-query MRR and
    * NDCG@3 of the LSH top-3 against the exact top-3 (graded relevance
    * 3/2/1 by exact rank) — the ranking-quality numbers every retrieval
    * deployment reports beside recall. Both emitted in MICRO-units
    * (ROUND absorbs the last-ulp drift of LOG2 across libms — the
    * text_entropy discipline; raw doubles through transcendental
    * functions would hash-mismatch across engines).
    */
  private def simAnnMrr(d: Dialect): String = {
    val idcg = "(3.0 / LOG2(2.0) + 2.0 / LOG2(3.0) + 1.0 / LOG2(4.0))"
    s"""WITH bf AS (${bruteForceTopkSql(d, 50, 3)}),
       |ann AS (${simAnnLsh(d)}),
       |h AS (SELECT ann.qid, ann.rnk, bf.rnk AS ernk
       |  FROM ann JOIN bf ON bf.qid = ann.qid AND bf.nid = ann.nid),
       |m AS (SELECT qid, MIN(rnk) AS frst,
       |    SUM((4.0 - ernk) / LOG2(CAST(rnk + 1 AS DOUBLE))) AS dcg
       |  FROM h GROUP BY qid)
       |SELECT CAST(q.qid AS BIGINT) AS qid,
       |  CAST(COALESCE(CAST(ROUND(1000000.0 / m.frst) AS BIGINT), 0) AS BIGINT) AS mrr_micro,
       |  CAST(COALESCE(CAST(ROUND(m.dcg / $idcg * 1000000.0) AS BIGINT), 0) AS BIGINT) AS ndcg_micro
       |FROM (SELECT DISTINCT qid FROM bf) q LEFT JOIN m ON m.qid = q.qid""".stripMargin
  }

  /** The `(doc_id, toks)` token-array stage — tokenize ONCE; both the
    * unigram and bigram counts read it.
    */
  private def toksSql(d: Dialect): String =
    s"SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM documents"

  private def uniSql(d: Dialect, toksSrc: String): String =
    s"""SELECT tk, CAST(COUNT(*) AS BIGINT) AS c
       |FROM (${d.explodeSelect("doc_id", s"($toksSrc) tt", "toks", "tk")}) tok
       |GROUP BY tk""".stripMargin

  private def bigramSql(d: Dialect, toksSrc: String): String = {
    val pair =
      s"""SELECT ${d.elem("toks", "i")} AS x, ${d.elem("toks", "i + 1")} AS y
         |FROM (${d.explodeSelect("doc_id, toks", s"($toksSrc) tt",
              d.seq("1", s"${d.len("toks")} - 1"), "i")}) e""".stripMargin
    s"SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM ($pair) p GROUP BY x, y"
  }

  /** Corpus-wide bigram PMI (pointwise mutual information) — the classic
    * collocation / phrase-mining signal: pmi(x,y) = ln(p(x,y)/(p(x)p(y)))
    * over adjacent token pairs, for bigrams seen ≥ 5 times.
    *
    * Float discipline: the probability ratio is built from exact BIGINT
    * counts with an explicit all-DOUBLE cast tree (both engines multiply/
    * divide the same operands in the same order → identical doubles even
    * past 2⁵³), and the final ln is quantized to micro-nats before emission
    * (cross-engine ln differs by 1 ulp on ~0.05% of inputs — see
    * text_entropy).
    *
    * Scale shape: bigram explode is map-only; unigram/bigram counts are two
    * hash aggregates; the scoring join hits the unigram dim table twice
    * (broadcast-sized: it's the vocabulary); corpus totals are 1-row cross
    * joins (broadcast).
    */
  private def pmiSql(d: Dialect,
      uniSrc: Option[String] = None, bcSrc: Option[String] = None): String = {
    val ratio = "(CAST(bc.c AS DOUBLE) * CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)) / " +
      "(CAST(bt.b AS DOUBLE) * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))"
    s"""WITH uni AS (${uniSrc.getOrElse(uniSql(d, toksSql(d)))}),
       |bc AS (${bcSrc.getOrElse(bigramSql(d, toksSql(d)))}),
       |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
       |bt AS (SELECT CAST(SUM(c) AS BIGINT) AS b FROM bc)
       |SELECT bc.x, bc.y, bc.c AS c_xy,
       |  CAST(ROUND(ln($ratio) * 1000000.0) AS BIGINT) AS pmi_micro
       |FROM bc JOIN uni ux ON bc.x = ux.tk
       |JOIN uni uy ON bc.y = uy.tk
       |CROSS JOIN t CROSS JOIN bt
       |WHERE bc.c >= 5""".stripMargin
  }

  /** The WHOLE preprocessing pipeline as ONE declarative plan — the
    * composition a real training-data run executes: normalize → length
    * filter (≥ 20 tokens) → exact dedup (content-hash keeper) → sliding
    * chunking. Every stage is the already-gate-verified operator; the point
    * of this gate is the COMPOSITION: one Catalyst plan end to end, no
    * materialization between stages except the one genuinely multi-consumed
    * intermediate (the filtered set feeds the keeper aggregate AND the
    * keeper join).
    */
  private def e2eFilteredSql(d: Dialect): String =
    s"""SELECT doc_id, ntext, ${F.tokens(d, "ntext")} AS toks
       |FROM (SELECT doc_id, ${normExpr(d)} AS ntext FROM documents) n
       |WHERE ${d.len(F.tokens(d, "ntext"))} >= 20""".stripMargin

  private def corpusPreprocessSql(d: Dialect, fSrc: Option[String] = None): String =
    s"""WITH f AS (${fSrc.getOrElse(e2eFilteredSql(d))}),
       |keep AS (SELECT MIN(doc_id) AS doc_id
       |  FROM (SELECT doc_id, ${F.strHash(d, "ntext")} AS h FROM f) x GROUP BY h),
       |d2 AS (SELECT f.doc_id, f.toks FROM f JOIN keep ON f.doc_id = keep.doc_id),
       |${chunkStages(d, "d2")}""".stripMargin

  private def corpusPreprocessDef: QueryDef =
    QueryDef("corpus_preprocess_e2e", corpusPreprocessSql(DuckDialect)) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      // f feeds the keeper aggregate AND the keeper join — materialize once
      s.sql(e2eFilteredSql(SparkDialect)).persist()
        .createOrReplaceTempView("graft_e2e_f")
      s.sql(corpusPreprocessSql(SparkDialect,
        Some("SELECT doc_id, ntext, toks FROM graft_e2e_f")))
    }

  /** Distribution-drift check: smoothed KL divergence (micro-nats) between
    * the TRAIN and VAL splits' token distributions — the monitoring signal
    * for "is my held-out set representative" / "did the corpus shift".
    * Add-one smoothing over the union vocabulary keeps q(t) > 0. Per-term
    * contributions are quantized to integer micro-nats and summed exactly
    * (the ln rule — see text_entropy); the probability ratio is an
    * explicit all-DOUBLE cast tree, identical on both engines. Splits are
    * the SAME content-hash buckets as corpus_split_hash.
    */
  /** DATA-MIXTURE WEIGHTS (round-6): per-source token counts, each
    * source's natural share of the corpus in micro-units, and the
    * repetition factor (epochs_micro) that upsampling to a UNIFORM target
    * mixture would require — the numbers a training-data pipeline computes
    * before interleaving sources (cf. corpus_interleave's weighted
    * round-robin, which consumes exactly such weights). All integer
    * micro-unit arithmetic, so cross-engine bit-identical. Scale shape:
    * one map-side-combinable aggregate over documents (token count is a
    * per-row scalar), a broadcast-sized totals row, zero extra shuffles.
    */
  private def corpusMixtureWeights(d: Dialect): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""WITH per AS (SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(${d.len(F.tokens(d, "text"))}) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
       |    CAST(COUNT(*) AS BIGINT) AS k FROM per)
       |SELECT per.source, per.n_docs, per.n_tokens,
       |  CAST((per.n_tokens * 1000000) $idiv tot.t AS BIGINT) AS share_micro,
       |  CAST((tot.t * 1000000) $idiv (tot.k * per.n_tokens) AS BIGINT)
       |    AS epochs_micro
       |FROM per CROSS JOIN tot""".stripMargin
  }

  private def corpusKlSql(d: Dialect): String = {
    val bucket = s"(${F.strHash(d, "text")} % 100)"
    val p = "((CAST(c.p_c AS DOUBLE) + 1.0) / (CAST(t.p_n AS DOUBLE) + CAST(t.v AS DOUBLE)))"
    val q = "((CAST(c.q_c AS DOUBLE) + 1.0) / (CAST(t.q_n AS DOUBLE) + CAST(t.v AS DOUBLE)))"
    s"""WITH s AS (SELECT doc_id, text,
       |    CASE WHEN $bucket < 90 THEN 'train'
       |         WHEN $bucket < 95 THEN 'val' ELSE 'test' END AS split
       |  FROM documents),
       |tok AS (${d.explodeSelect("split", "s", F.tokens(d, "text"), "tk")}),
       |c AS (SELECT tk,
       |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS p_c,
       |    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS q_c
       |  FROM tok WHERE split <> 'test' GROUP BY tk),
       |t AS (SELECT CAST(SUM(p_c) AS BIGINT) AS p_n, CAST(SUM(q_c) AS BIGINT) AS q_n,
       |    CAST(COUNT(*) AS BIGINT) AS v FROM c)
       |SELECT CAST(SUM(CAST(ROUND($p * ln($p / $q) * 1000000.0) AS BIGINT)) AS BIGINT)
       |    AS kl_micro_nats,
       |  CAST(MAX(t.v) AS BIGINT) AS vocab,
       |  CAST(MAX(t.p_n) AS BIGINT) AS train_tokens,
       |  CAST(MAX(t.q_n) AS BIGINT) AS val_tokens
       |FROM c CROSS JOIN t""".stripMargin
  }

  private def corpusKlDef: QueryDef =
    QueryDef("corpus_kl_divergence", corpusKlSql(DuckDialect)) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      s.sql(corpusKlSql(SparkDialect))
    }

  private def textPmiDef: QueryDef =
    QueryDef("text_pmi", pmiSql(DuckDialect)) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      // tokenize once (both counts read the materialized arrays); uni
      // feeds the two scoring joins + the corpus total and bc feeds the
      // scoring join + the bigram total — materialize all three (Catalyst
      // inlines multi-ref CTEs; released by per-query clearCache)
      s.sql(toksSql(SparkDialect)).persist().createOrReplaceTempView("graft_pmi_toks")
      val toksView = "SELECT doc_id, toks FROM graft_pmi_toks"
      s.sql(uniSql(SparkDialect, toksView)).persist().createOrReplaceTempView("graft_pmi_uni")
      s.sql(bigramSql(SparkDialect, toksView)).persist().createOrReplaceTempView("graft_pmi_bc")
      s.sql(pmiSql(SparkDialect,
        Some("SELECT tk, c FROM graft_pmi_uni"),
        Some("SELECT x, y, c FROM graft_pmi_bc")))
    }

  /** TEMPERATURE SAMPLING over sources (α = 0.5) — the mixture-flattening
    * step every multilingual / multi-source training run uses: each language
    * is kept at rate `sqrt(n_min / n_s)`, so the smallest language keeps
    * everything and one 100× larger is downsampled 10× — flattening
    * the distribution toward uniform exactly like sampling with
    * probabilities ∝ n^α. Selection is the deterministic content hash
    * against a per-source threshold (no RNG — reruns and engines agree
    * bit-for-bit; `sqrt`/`floor` are IEEE-exact, unlike `ln`).
    *
    * 100 TB shape: one count aggregate (map-side combinable), a broadcast
    * of the per-language thresholds, and a stateless hash filter — no
    * shuffle of the corpus itself.
    */
  private def corpusTemperatureSample(d: Dialect): String = {
    val h = s"(${F.strHash(d, "d.text")} % 1000000)"
    s"""WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_s
       |  FROM documents GROUP BY lang),
       |m AS (SELECT CAST(MIN(n_s) AS BIGINT) AS n_min FROM n),
       |r AS (SELECT n.lang, n.n_s,
       |    CAST(FLOOR(SQRT(CAST(m.n_min AS DOUBLE) / CAST(n.n_s AS DOUBLE))
       |      * 1000000.0) AS BIGINT) AS thr
       |  FROM n CROSS JOIN m)
       |SELECT d.doc_id, d.lang, r.thr
       |FROM documents d JOIN r ON d.lang = r.lang
       |WHERE $h < r.thr""".stripMargin
  }

  /** ANNEALED MIXTURE SCHEDULE (round-9): per-EPOCH language weights
    * `w_l(e) ∝ n_l^α_e` with α annealing 0.25 → 1.0 over 4 epochs — the
    * curriculum every multilingual run tunes: start near-uniform (small
    * languages upweighted, α→0), end at the natural distribution (α=1).
    * The fractional powers are computed as SQRT CHAINS — n^0.25 =
    * sqrt(sqrt(n)), n^0.5 = sqrt(n), n^0.75 = sqrt(n)·sqrt(sqrt(n)) —
    * because IEEE sqrt and multiply are correctly rounded (bit-identical
    * across engines) where pow/ln are libm-dependent (the
    * corpus_temperature_sample discipline, extended to a whole schedule).
    * Weights are normalized per epoch and floored to integer micro-units.
    *
    * 100 TB shape: one map-side-combinable count per language, a 4×L
    * scalar grid, one broadcast-sized per-epoch total — the corpus itself
    * is never touched beyond the count.
    */
  private def corpusAnnealMixture(d: Dialect): String = {
    // α_e for epoch e in 1..4 as a sqrt chain over the double count
    val pow = Seq(
      1 -> "SQRT(SQRT(nd))",          // α = 0.25
      2 -> "SQRT(nd)",                // α = 0.5
      3 -> "SQRT(nd) * SQRT(SQRT(nd))", // α = 0.75
      4 -> "nd")                      // α = 1.0
    val grid = pow.map { case (e, p) =>
      s"SELECT $e AS epoch, lang, n_docs, $p AS w FROM n"
    }.mkString(" UNION ALL ")
    s"""WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) AS DOUBLE) AS nd
       |  FROM documents GROUP BY lang),
       |g AS ($grid),
       |t AS (SELECT epoch, SUM(CAST(w AS DECIMAL(28, 8))) AS tw
       |  FROM g GROUP BY epoch)
       |SELECT CAST(g.epoch AS BIGINT) AS epoch, g.lang, g.n_docs,
       |  CAST(FLOOR(g.w / CAST(t.tw AS DOUBLE) * 1000000.0) AS BIGINT)
       |    AS weight_micro
       |FROM g JOIN t ON t.epoch = g.epoch""".stripMargin
  }

  /** FILL-IN-THE-MIDDLE transformation (round-9; Bavarian et al.,
    * arXiv:2207.14255): each document's token stream is cut at two
    * deterministic hash-derived points and re-emitted in PSM order —
    * `<fim_pre> prefix <fim_suf> suffix <fim_mid> middle` — the data op
    * behind every infilling-capable code model. Cut points are exact
    * integer arithmetic on (doc_id, n): c1 = 1 + H1 mod (n-1), c2 = c1 +
    * 1 + H2 mod (n-c1), guaranteeing 1 ≤ c1 < c2 ≤ n so all three parts
    * are well-defined (prefix [1, c1], middle (c1, c2], suffix (c2, n];
    * middle non-empty, prefix non-empty, suffix possibly empty — the PSM
    * convention). Docs with < 2 tokens pass through unchanged with
    * fim_applied = 0 (both engines agree).
    *
    * 100 TB shape: pure per-row scalar work on the token array — map-only,
    * zero shuffles.
    */
  private def corpusFimTransform(d: Dialect): String = {
    val toks = F.tokens(d, "text")
    val h1 = "((doc_id*1103515245 + 12345) % 2147483647)"
    val h2 = "((doc_id*69069 + 54321) % 2147483647)"
    val part = (from: String, n: String) => d.joinWs(d.slice("t", from, n))
    s"""WITH t0 AS (SELECT doc_id, $toks AS t FROM documents),
       |c AS (SELECT doc_id, t, ${d.len("t")} AS n,
       |    CASE WHEN ${d.len("t")} >= 2
       |      THEN 1 + $h1 % (${d.len("t")} - 1) ELSE 0 END AS c1
       |  FROM t0),
       |c2t AS (SELECT doc_id, t, n, c1,
       |    CASE WHEN n >= 2 THEN c1 + 1 + $h2 % (n - c1) ELSE 0 END AS c2
       |  FROM c)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(n AS BIGINT) AS n_tokens,
       |  CAST(CASE WHEN n >= 2 THEN 1 ELSE 0 END AS BIGINT) AS fim_applied,
       |  CASE WHEN n < 2 THEN ${d.joinWs("t")}
       |       ELSE concat('<fim_pre> ', ${part("1", "c1")},
       |                   ' <fim_suf> ', CASE WHEN c2 < n
       |                     THEN ${part("c2 + 1", "n - c2")} ELSE '' END,
       |                   ' <fim_mid> ', ${part("c1 + 1", "c2 - c1")})
       |  END AS fim_text
       |FROM c2t""".stripMargin
  }

  /** PREFERENCE-PAIR CONSTRUCTION (round-9): per source, the
    * highest-quality document paired against the lowest (deterministic
    * (score, doc_id) tie-break) — the (chosen, rejected) row a reward
    * model / DPO pipeline trains on, with the quality margin carried for
    * margin-weighted losses. Scorer = the text_quality composite's
    * integer core (length + stopword evidence), so the pair is
    * reproducible from corpus facts alone. Sources whose best and worst
    * coincide (single-doc sources) emit no pair.
    *
    * 100 TB shape: one scalar scoring pass + two per-source windows
    * sharing one hash exchange on source.
    */
  private def corpusPreferencePairs(d: Dialect): String = {
    val toks = F.tokens(d, "text")
    val stop = d.arrayLit(Seq("the", "a", "and", "of", "to", "in", "is"))
    val score =
      s"CAST(10 * ${d.len(d.filter("toks", "w", d.contains(stop, "w")))} + ${d.len("toks")} AS BIGINT)"
    s"""WITH sc AS (SELECT doc_id, source, $score AS q
       |  FROM (SELECT doc_id, source, $toks AS toks FROM documents) t),
       |r AS (SELECT doc_id, source, q,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rb,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY q ASC, doc_id) AS rw
       |  FROM sc)
       |SELECT b.source, CAST(b.doc_id AS BIGINT) AS chosen_id,
       |  CAST(w.doc_id AS BIGINT) AS rejected_id,
       |  CAST(b.q - w.q AS BIGINT) AS margin
       |FROM (SELECT source, doc_id, q FROM r WHERE rb = 1) b
       |JOIN (SELECT source, doc_id, q FROM r WHERE rw = 1) w
       |  ON w.source = b.source AND w.doc_id <> b.doc_id""".stripMargin
  }

  /** LENGTH-BUCKETED BATCHING (round-9): docs grouped into power-of-two
    * token-length buckets, then numbered into fixed-size batches of 8
    * within each bucket (deterministic content-hash order) — the padding-
    * efficiency step before training (batching similar lengths bounds
    * wasted pad tokens at < 2× per batch by construction). Bucket id =
    * position of the highest set bit of n (integer arithmetic, no
    * floating log2).
    *
    * 100 TB shape: scalar bucket assignment + ONE window exchange on the
    * bucket key; batch ids are per-bucket ranks, never a global sequence.
    */
  private def corpusLengthBuckets(d: Dialect): String = {
    val toks = F.tokens(d, "text")
    // highest-set-bit bucket via comparison ladder (n <= 512 at testdata
    // scale; the ladder extends by construction)
    val bucket =
      """CASE WHEN n <= 8 THEN 3 WHEN n <= 16 THEN 4 WHEN n <= 32 THEN 5
        |     WHEN n <= 64 THEN 6 WHEN n <= 128 THEN 7 WHEN n <= 256 THEN 8
        |     WHEN n <= 512 THEN 9 WHEN n <= 1024 THEN 10 ELSE 11 END""".stripMargin
    val idiv = if (d == SparkDialect) "div" else "//"
    s"""WITH t AS (SELECT doc_id, ${d.len(toks)} AS n,
       |    ${F.strHash(d, "text")} AS h FROM documents),
       |b AS (SELECT doc_id, n, h, $bucket AS bucket FROM t),
       |r AS (SELECT doc_id, n, bucket,
       |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rk
       |  FROM b)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(bucket AS BIGINT) AS bucket,
       |  CAST((rk - 1) $idiv 8 AS BIGINT) AS batch_id,
       |  CAST((rk - 1) % 8 AS BIGINT) AS slot
       |FROM r""".stripMargin
  }

  /** Source-mixing interleave — the training-data "mixing ratios" step:
    * each source gets a weight (here derived from the source id; any
    * weight table slots in), documents are deterministically shuffled
    * within their source by content hash, and the training stream is
    * emitted in rounds of `weight` docs per source — (round, source, slot)
    * is the global order. Shape: ONE partitioned window (per-source
    * ranking, no global sort) + scalar arithmetic; at 100 TB the stream
    * order is a sort key for the writer, never a driver-side sequence.
    */
  private def corpusInterleave(d: Dialect): String =
    s"""WITH dw AS (SELECT doc_id, source,
       |    CAST(substr(source, 4) AS INTEGER) % 3 + 1 AS w,
       |    ${F.strHash(d, "text")} AS h FROM documents),
       |r AS (SELECT doc_id, source, w,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
       |  FROM dw)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       |  CAST(FLOOR(CAST(rk - 1 AS DOUBLE) / w) AS BIGINT) AS rnd,
       |  CAST((rk - 1) % w AS BIGINT) AS slot
       |FROM r""".stripMargin

  /** Edit-distance-verified near-duplicates: minhash band candidates (the
    * proven bounded generator — candidates ONLY from band-key equi-joins)
    * re-verified with true Levenshtein distance ≤ half the longer text.
    * The Spark side runs the banded THRESHOLD variant (`levenshtein(a,b,k)`
    * computes only a 2k+1-wide DP diagonal and early-exits to -1 past k —
    * O(k·n) instead of O(n²) per pair); the oracle computes the full
    * distance and applies the same bound, so kept rows carry identical
    * distances. At 100 TB the quadratic-ish verify cost rides on the
    * candidate set's size, which banding already bounds.
    */
  private def editDistSql(d: Dialect, sigSrc: String): String = {
    val thr = "CAST(FLOOR(CAST(mx AS DOUBLE) / 2.0) AS INTEGER)"
    val lev =
      if (d == SparkDialect) s"levenshtein(ta, tb, $thr)"
      else "levenshtein(ta, tb)"
    val keep = if (d == SparkDialect) "ed >= 0" else s"ed <= $thr"
    s"""WITH p AS (${minhashPairsSql(d, sigSrc)}),
       |j AS (SELECT p.a, p.b, da.text AS ta, db.text AS tb
       |  FROM p JOIN documents da ON p.a = da.doc_id
       |  JOIN documents db ON p.b = db.doc_id),
       |m AS (SELECT a, b, ta, tb, GREATEST(length(ta), length(tb)) AS mx FROM j),
       |e AS (SELECT a, b, mx, $lev AS ed FROM m)
       |SELECT a, b, CAST(ed AS BIGINT) AS edit_dist, CAST(mx AS BIGINT) AS max_len
       |FROM e WHERE $keep""".stripMargin
  }

  private def dedupEditDistance: QueryDef = {
    val oracle =
      s"""WITH sigs AS (${minhashSigSql(DuckDialect)}),
         |q AS (${editDistSql(DuckDialect, "sigs")})
         |SELECT * FROM q""".stripMargin
    QueryDef("dedup_edit_distance", oracle) { (s, dir) =>
      Stage.view("minhash_sigs_ed",
        s.sql(minhashSigSql(SparkDialect, Some(cachedShingles(s, dir)))))
      s.sql(editDistSql(SparkDialect, "minhash_sigs_ed"))
    }
  }

  /** End-to-end dedup APPLICATION: minhash pairs → connected components →
    * one keeper (min doc_id) per cluster → the surviving corpus. The final
    * step is a semi join of the full documents table against the keeper
    * set — at 100 TB the keeper set is ids-only (no text in the shuffle)
    * and the semi join hash-partitions on doc_id.
    */
  private def corpusDedupApply: QueryDef =
    QueryDef("corpus_dedup_apply",
      s"""WITH RECURSIVE sigs AS (${minhashSigSql(DuckDialect)}),
         |p AS (${minhashPairsSql(DuckDialect, "sigs")}),
         |edges AS (SELECT a AS u, b AS v FROM p UNION ALL SELECT b AS u, a AS v FROM p),
         |reach AS (
         |  SELECT CAST(doc_id AS BIGINT) AS node, CAST(doc_id AS BIGINT) AS comp FROM documents
         |  UNION
         |  SELECT e.v AS node, r.comp FROM reach r JOIN edges e ON e.u = r.node),
         |keepers AS (SELECT node FROM reach GROUP BY node HAVING MIN(comp) = node)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source,
         |  CAST(d.n_chars AS BIGINT) AS n_chars
         |FROM documents d JOIN keepers k ON CAST(d.doc_id AS BIGINT) = k.node""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.col
      Stage.view("minhash_sigs_apply",
        s.sql(minhashSigSql(SparkDialect, Some(cachedShingles(s, dir)))))
      val pairs = s.sql(minhashPairsSql(SparkDialect, "minhash_sigs_apply"))
      val edges = pairs.select(col("a").as("u"), col("b").as("v"))
      val nodes = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long").as("node"))
      val keepers = graft.operators.Graph.connectedComponents(nodes, edges)
        .filter(col("node") === col("comp"))
        .select(col("node").as("doc_id"))
      Tables.load(s, dir, "documents")
        .join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
    }

  // debug handles for spec access (PropertySpec runs these templates
  // against generated inputs)
  def debugCorpusChunkSql: String = corpusChunk(SparkDialect)
  def debugCdcChunkSql: String = corpusCdcChunk(SparkDialect)
  def debugEmbQuantizeSql: String = embQuantize(SparkDialect)
  def debugTfidfSql: String = tfidfSql(SparkDialect)
  def chunkParams: (Int, Int) = (CHUNK, STRIDE)
  def debugTextNormalizeSql: String = textNormalize(SparkDialect)

  // ----------------------------- binary-quantized serving (round-9)

  /** Packed sign-bit code for embedding dims (lo, lo+32]: bit i-1 set when
    * dim lo+i is positive. Two 32-bit halves per 64-dim vector (one BIGINT
    * each) — bit 63 is never used, so the BIGINT sum of distinct powers of
    * two cannot overflow under ANSI mode.
    */
  private def signPack(d: Dialect, v: String, lo: Int): String =
    d.reduce(d.seq("1", "32"), "CAST(0 AS BIGINT)", "acc", "i",
      s"acc + (CASE WHEN ${d.elem(v, s"i + $lo")} > 0 THEN ${d.shiftLeft1("i - 1")} ELSE CAST(0 AS BIGINT) END)")

  /** BINARY-QUANTIZED TWO-STAGE SERVING: 1-bit sign quantization packs a
    * 64-dim float vector into TWO BIGINT words (16 bytes — 16× smaller
    * than the float index); stage 1 shortlists the per-query top-$RefineN
    * by HAMMING distance (`bit_count(xor)` per word — 2 popcounts/
    * candidate instead of 64 FMAs); stage 2 re-ranks the shortlist alone
    * by exact full-dim cosine via the shared refine pattern ([[rankTopN]]
    * + [[cosScoredSel]]). The standard binary-embedding serving stack
    * (e.g. faiss `IndexBinaryFlat` + float refine). At 100 TB: the packed
    * scan is the deliberate exact stage-1 contract (same as matryoshka
    * serving) — it composes with any shortlister (IVF cells, LSH
    * buckets), and the refine join touches |queries| × $RefineN full
    * vectors, never the corpus.
    */
  private def simBinaryHammingCtes(d: Dialect): String = {
    val ham = s"${d.bitCount(d.xor("q.qlo", "b.lo"))} + ${d.bitCount(d.xor("q.qhi", "b.hi"))}"
    s"""bq AS (SELECT vec_id, ${signPack(d, "embedding", 0)} AS lo,
       |    ${signPack(d, "embedding", 32)} AS hi FROM embeddings),
       |qb AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM bq
       |  WHERE vec_id % 50 = 0),
       |hs AS (SELECT q.qid, b.vec_id AS nid, CAST($ham AS BIGINT) AS ham
       |  FROM qb q CROSS JOIN bq b WHERE b.vec_id <> q.qid),
       |short AS (SELECT qid, nid FROM (
       |    ${rankTopN("SELECT qid, nid, ham FROM hs", "ham",
                       desc = false, RefineN, "rn")}) s0),
       |ef AS (SELECT vec_id, embedding, ${F.norm(d, "embedding", DIM)} AS nrm
       |  FROM embeddings),
       |qf AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM ef
       |  WHERE vec_id % 50 = 0),
       |serve AS (${rankTopN(
             cosScoredSel(d, "SELECT qid, nid FROM short", "qf", "ef"),
             "score", desc = true, 3)})""".stripMargin
  }

  private def simBinaryHamming(d: Dialect): String =
    s"""WITH ${simBinaryHammingCtes(d)}
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(nid AS BIGINT) AS nid,
       |  score, CAST(rnk AS BIGINT) AS rnk
       |FROM serve""".stripMargin

  /** Recall@3 of binary-quantized two-stage serving against the exact
    * full-dim top-3 — what 16× index compression costs in recall.
    */
  private def simBinaryHammingRecall(d: Dialect): String =
    s"""WITH bf AS (${bruteForceTopkSql(d, 50, 3)}),
       |${simBinaryHammingCtes(d)}
       |SELECT CAST(bf.qid AS BIGINT) AS qid,
       |  CAST(COUNT(sv.nid) AS BIGINT) AS hits,
       |  CAST(COUNT(sv.nid) AS DOUBLE) / 3.0 AS recall_at_3
       |FROM bf LEFT JOIN (SELECT qid, nid FROM serve) sv
       |  ON sv.qid = bf.qid AND sv.nid = bf.nid
       |GROUP BY bf.qid""".stripMargin

  // ----------------------------- learned data selection (round-9)

  private val DsirB = 64 // hashed n-gram feature buckets (DSIR + classifier)

  /** Hashed unigram+bigram bucket counts per document — the DSIR feature
    * relation: (doc_id, bkt, cnt). Map-side-combinable aggregate over two
    * explodes; no vocabulary state (the hashing-trick property that
    * matters at 100 TB).
    */
  private def dsirFeatSql(d: Dialect): String = {
    val h = F.strHashCheap(d, "g")
    s"""SELECT doc_id, bkt, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |  SELECT doc_id, ($h) % $DsirB AS bkt FROM (
       |    SELECT doc_id, g FROM (${d.explodeSelect("doc_id",
             s"(SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM documents) tw",
             "toks", "g")}) u
       |    UNION ALL
       |    SELECT doc_id, g FROM (${d.explodeSelect("doc_id",
             s"(SELECT doc_id, ${F.tokens(d, "text")} AS toks FROM documents) tw2",
             F.shingles(d, "toks", 2), "g")}) b2) feats) fb
       |GROUP BY doc_id, bkt""".stripMargin
  }

  /** DSIR DATA SELECTION (Xie et al., "Data Selection for Language Models
    * via Importance Resampling", arXiv:2302.03169): score every document
    * by the hashed-n-gram importance log-weight log p_target(x) −
    * p_raw(x) under bag-of-buckets models — target = the `src0` domain,
    * raw = the whole corpus — and select documents that look more
    * target-like than raw-like. Per-bucket log-ratios are Laplace-
    * smoothed and micro-quantized ONCE per bucket (the text_entropy `ln`
    * discipline: one transcendental per bucket, never per doc); the
    * per-document weight is then an exact integer dot product.
    *
    * 100 TB shape: feature counts are map-side-combinable aggregates; the
    * bucket distributions are one $DsirB-row relation (broadcast); the
    * per-doc weight is one bucket equi-join + integer SUM; selection is a
    * pure THRESHOLD (logw > 0 ⇔ target-likelihood dominates) — no global
    * sort, no quantile pass.
    */
  private def dsirSql(d: Dialect, cSrc: String): String =
    s"""WITH c AS ($cSrc),
       |cs AS (SELECT c.bkt,
       |    CAST(SUM(CASE WHEN dd.source = 'src0' THEN c.cnt ELSE 0 END) AS BIGINT) AS tc,
       |    CAST(SUM(c.cnt) AS BIGINT) AS rc
       |  FROM c JOIN documents dd ON c.doc_id = dd.doc_id GROUP BY c.bkt),
       |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS ttot,
       |    CAST(SUM(rc) AS BIGINT) AS rtot FROM cs),
       |lam AS (SELECT bkt,
       |    CAST(ROUND(ln((CAST(tc + 1 AS DOUBLE) * (CAST(rtot AS DOUBLE) + $DsirB.0))
       |      / (CAST(rc + 1 AS DOUBLE) * (CAST(ttot AS DOUBLE) + $DsirB.0))) * 1000000.0) AS BIGINT) AS lam_micro
       |  FROM cs CROSS JOIN tot),
       |w AS (SELECT c.doc_id, CAST(SUM(c.cnt * l.lam_micro) AS BIGINT) AS logw_micro
       |  FROM c JOIN lam l ON c.bkt = l.bkt GROUP BY c.doc_id)
       |SELECT CAST(w.doc_id AS BIGINT) AS doc_id, dd.source, w.logw_micro,
       |  CAST(CASE WHEN w.logw_micro > 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
       |FROM w JOIN documents dd ON w.doc_id = dd.doc_id""".stripMargin

  private def corpusDsirSelectDef: QueryDef =
    QueryDef("corpus_dsir_select",
      dsirSql(DuckDialect, dsirFeatSql(DuckDialect))) { (s, dir) =>
      Stage.tables(s, dir, "documents")
      // c is referenced by both the distribution branch and the weight
      // branch — materialize once (the cachedTf lesson)
      s.sql(dsirFeatSql(SparkDialect)).persist()
        .createOrReplaceTempView("graft_dsir_c")
      s.sql(dsirSql(SparkDialect, "SELECT doc_id, bkt, cnt FROM graft_dsir_c"))
    }

  // quality-classifier hyperparameters: lr = 1/QcLrd (≈1.8× below the
  // measured divergence threshold 2/λmax ≈ 1/104 of the feature Gram
  // matrix, stable across sf0.001/0.01/0.1), QcRounds full-batch steps
  private val QcLrd = 192
  private[queries] val QcRounds = 8

  /** Classifier feature relation: hashed-unigram bucket counts + a bias
    * column (bkt = −1, cnt = 1 for every doc). Integer counts — the GD
    * arithmetic below stays exact. `docsTable` parameterized so the
    * streaming learned-filter gate can featurize a micro-batch with the
    * IDENTICAL arithmetic.
    */
  private[queries] def qcFeatSql(d: Dialect, docsTable: String = "documents"): String = {
    val h = F.strHashCheap(d, "t")
    s"""SELECT doc_id, bkt, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |  SELECT doc_id, ($h) % $DsirB AS bkt
       |  FROM (${d.explodeSelect("doc_id", docsTable, F.tokens(d, "text"), "t")}) tok) fb
       |GROUP BY doc_id, bkt
       |UNION ALL
       |SELECT doc_id, CAST(-1 AS BIGINT) AS bkt, CAST(1 AS BIGINT) AS cnt
       |FROM $docsTable""".stripMargin
  }

  private def qcLabelSql: String =
    """SELECT doc_id, CAST(CASE WHEN n_chars > 150 THEN 1 ELSE 0 END AS BIGINT) AS y
      |FROM documents""".stripMargin

  /** One full-batch GD round in EXACT integer fixed-point (micro units):
    * per-doc prediction from the previous weights, residual against
    * y·10⁶, per-bucket gradient, and the weight update
    * w += ⌊grad / (n·$QcLrd)⌋ as an exact floored BIGINT division
    * (positive-remainder subtraction, then the engine's exact integer
    * divide) — bit-identical across engines, the kmeans ×1000 discipline.
    * `cc`/`yy` are the feature/label relations; `wp` the previous weights.
    */
  private[queries] def qcRoundSql(d: Dialect, cc: String, yy: String, wp: String): String = {
    val idiv = if (d == SparkDialect) "div" else "//"
    val m = s"(n.n * $QcLrd)"
    s"""SELECT g.bkt, COALESCE(wp.w, CAST(0 AS BIGINT))
       |    + ((g.g - (((g.g % $m) + $m) % $m)) $idiv $m) AS w
       |FROM (SELECT cc.bkt,
       |    CAST(SUM((yy.y * 1000000 - COALESCE(p.pred, 0)) * cc.cnt) AS BIGINT) AS g
       |  FROM ($cc) cc JOIN ($yy) yy ON cc.doc_id = yy.doc_id
       |  LEFT JOIN (SELECT cc2.doc_id, CAST(SUM(cc2.cnt * wp2.w) AS BIGINT) AS pred
       |    FROM ($cc) cc2 JOIN ($wp) wp2 ON cc2.bkt = wp2.bkt
       |    GROUP BY cc2.doc_id) p ON p.doc_id = cc.doc_id
       |  GROUP BY cc.bkt) g
       |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents) n
       |LEFT JOIN ($wp) wp ON wp.bkt = g.bkt""".stripMargin
  }

  private def qcScoreSql(d: Dialect, cc: String, yy: String, wf: String): String =
    s"""SELECT CAST(yy.doc_id AS BIGINT) AS doc_id,
       |  COALESCE(p.pred, CAST(0 AS BIGINT)) AS score_micro,
       |  CAST(CASE WHEN COALESCE(p.pred, 0) > 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred,
       |  yy.y AS label
       |FROM ($yy) yy
       |LEFT JOIN (SELECT cc.doc_id, CAST(SUM(cc.cnt * w.w) AS BIGINT) AS pred
       |  FROM ($cc) cc JOIN ($wf) w ON cc.bkt = w.bkt
       |  GROUP BY cc.doc_id) p ON p.doc_id = yy.doc_id""".stripMargin

  private[queries] val qcEmptyW = "SELECT CAST(NULL AS BIGINT) AS bkt, CAST(0 AS BIGINT) AS w WHERE 1 = 0"

  /** The oracle-side GD chain: w1..wN CTEs over the `qcc`/`qcy` relations
    * (which the caller must provide in the WITH prologue). Shared by the
    * batch gate and the streaming learned-filter oracle.
    */
  private[queries] def qcOracleRounds(d: Dialect): String =
    (1 to QcRounds).map { k =>
      val wp = if (k == 1) qcEmptyW else s"SELECT bkt, w FROM w${k - 1}"
      s"w$k AS (${qcRoundSql(d, "SELECT doc_id, bkt, cnt FROM qcc",
        "SELECT doc_id, y FROM qcy", wp)})"
    }.mkString(",\n")

  /** Sufficient statistics of the GD chain in one aggregate over the
    * feature relation `cc` and label relation `yy`. Rows tagged k = 0
    * hold the Gram entries G(i, j) = Σ cnt_i·cnt_j over the documents'
    * (i, j) bucket pairs, k = 1 the label moments (Xᵀy)(i), and the one
    * k = 2 row the document count n. Every value is an exact BIGINT sum.
    */
  private def qcStatsSql(cc: String, yy: String): String =
    s"""WITH cc AS ($cc)
       |SELECT 0 AS k, a.bkt AS i, b.bkt AS j, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS v
       |FROM cc a JOIN cc b ON a.doc_id = b.doc_id
       |GROUP BY a.bkt, b.bkt
       |UNION ALL
       |SELECT 1, cc.bkt, CAST(NULL AS BIGINT), CAST(SUM(cc.cnt * yy.y) AS BIGINT)
       |FROM cc JOIN ($yy) yy ON cc.doc_id = yy.doc_id
       |GROUP BY cc.bkt
       |UNION ALL
       |SELECT 2, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), COUNT(*) FROM documents""".stripMargin

  /** The $QcRounds GD rounds of [[qcRoundSql]], trained from sufficient
    * statistics. Expanding a round's per-document prediction
    * pred_d = Σ cnt·w gives the gradient in Gram form,
    * g = 10⁶·Xᵀy − (XᵀX)·w, so one Spark aggregate ([[qcStatsSql]])
    * gives everything the rounds read, and they run on the driver in
    * exact `Long` arithmetic: integer sums are associative and
    * `floorDiv(g, m)` is the SQL's positive-remainder floored division,
    * so the weights are bit-identical to the SQL chain. Every product and
    * sum is `Math.*Exact`: an overflow throws, as ANSI SQL does.
    *
    * Preconditions, guarded loudly: `cc` has the [[qcFeatSql]] shape (one
    * bias row, bkt = −1 and cnt = 1, per `documents` row) and `yy` has one
    * row per document. The Gram form needs `doc_id` unique in
    * `documents`; the bias×bias Gram entry is Σ (rows per doc_id)², which
    * equals n exactly when it is. The model is at most ($DsirB+1) buckets,
    * so the statistics are at most ($DsirB+1)·($DsirB+2) values.
    *
    * Returns the final weights `(bkt, w)` as an exact-size local relation.
    */
  private[queries] def qcGdWeights(s: SparkSession, cc: String, yy: String): DataFrame = {
    val maxStats = (DsirB + 1) * (DsirB + 2)
    val rows = s.sql(qcStatsSql(cc, yy)).collect()
    val n = rows.collectFirst { case r if r.getInt(0) == 2 => r.getLong(3) }.get
    val gram = rows.collect {
      case r if r.getInt(0) == 0 => (r.getLong(1), r.getLong(2)) -> r.getLong(3)
    }.toMap
    val xty = rows.collect { case r if r.getInt(0) == 1 => r.getLong(1) -> r.getLong(3) }.toMap
    require(gram.size + xty.size <= maxStats,
      s"classifier statistics have ${gram.size} Gram and ${xty.size} label entries; " +
        s"the model is bounded by ${DsirB + 1} buckets (at most $maxStats values)")
    val biasBias = gram.getOrElse((-1L, -1L), 0L)
    require(biasBias == n, s"doc_id must be unique and non-null in documents: " +
      s"bias×bias Gram entry $biasBias != document count $n")
    // the weight set is the SQL round's: every bucket with a label moment
    val bkts = xty.keys.toArray.sorted
    val g = bkts.map(i => bkts.map(j => gram.getOrElse((i, j), 0L)))
    val y = bkts.map(i => Math.multiplyExact(xty(i), 1000000L))
    val m = Math.multiplyExact(n, QcLrd.toLong)
    val w = new Array[Long](bkts.length)
    (1 to QcRounds).foreach { _ =>
      val grad = bkts.indices.map { i =>
        bkts.indices.foldLeft(y(i)) { (acc, j) =>
          Math.subtractExact(acc, Math.multiplyExact(g(i)(j), w(j)))
        }
      }
      bkts.indices.foreach(i => w(i) = Math.addExact(w(i), Math.floorDiv(grad(i), m)))
    }
    val schema = StructType(Seq(StructField("bkt", LongType), StructField("w", LongType)))
    s.createDataFrame(bkts.indices.map(i => Row(bkts(i), w(i))).asJava, schema)
  }

  /** Spark-side training: materialize the feature relation once, train
    * from its sufficient statistics ([[qcGdWeights]]), and return the
    * FINAL weights `(bkt, w)`, also registered as `graft_qc_w` — the model
    * handoff the streaming learned filter broadcasts at serve time.
    */
  private[queries] def qcTrainWeights(s: SparkSession, dir: String): DataFrame = {
    Stage.tables(s, dir, "documents")
    // the feature matrix feeds the statistics and the scoring pass; the
    // labels are a projection of documents, cheaper to rescan than to stage
    Stage.view("graft_qc_cc", s.sql(qcFeatSql(SparkDialect)))
    s.sql(qcLabelSql).createOrReplaceTempView("graft_qc_y")
    val w = qcGdWeights(s, "SELECT doc_id, bkt, cnt FROM graft_qc_cc",
      "SELECT doc_id, y FROM graft_qc_y")
    w.createOrReplaceTempView("graft_qc_w")
    w
  }

  /** QUALITY-CLASSIFIER DISTILLATION: train a hashed-feature LINEAR PROBE
    * (the fastText-style quality-filter move — distill a slow quality rule
    * into a vocabulary-free linear model that scores at hash+dot cost)
    * against the `n_chars > 150` quality label, with $QcRounds full-batch
    * gradient-descent steps in EXACT integer fixed-point (micro-unit
    * weights, floored-division updates — both engines bit-identical, no
    * float ever SUMmed). Output = per-doc score, hard prediction at 0.5,
    * and the label (measured: ≈0.90 accuracy vs ≈0.80 base rate at
    * sf0.001-0.1).
    *
    * 100 TB shape: training is ONE corpus pass — the feature relation is
    * shuffled once by doc_id, each document emits at most ($DsirB+1)²
    * bucket-pair rows, and a map-side-combinable aggregate keyed by bucket
    * pair folds them into the sufficient statistics XᵀX and Xᵀy. The model
    * state is at most ($DsirB+1)×($DsirB+2) Longs, so the GD rounds run on
    * the driver and cost nothing that grows with the corpus. Scoring is
    * one per-doc aggregate against the broadcast ($DsirB+1)-row weight
    * relation.
    */
  private def textQualityClassifierDef: QueryDef = {
    val dd = DuckDialect
    val oracleChain =
      s"""WITH qcc AS (${qcFeatSql(dd)}),
         |qcy AS ($qcLabelSql),
         |${qcOracleRounds(dd)}
         |${qcScoreSql(dd, "SELECT doc_id, bkt, cnt FROM qcc",
            "SELECT doc_id, y FROM qcy", s"SELECT bkt, w FROM w$QcRounds")}""".stripMargin
    QueryDef("text_quality_classifier", oracleChain) { (s, dir) =>
      qcTrainWeights(s, dir)
      s.sql(qcScoreSql(SparkDialect, "SELECT doc_id, bkt, cnt FROM graft_qc_cc",
        "SELECT doc_id, y FROM graft_qc_y", "SELECT bkt, w FROM graft_qc_w"))
    }
  }

  /** RELIABILITY BINS over the distilled classifier — the calibration
    * readout every deployed quality filter needs (Guo et al., ICML 2017:
    * modern classifiers are systematically mis-calibrated; a threshold
    * chosen from raw scores filters the wrong mass): docs ranked into
    * score deciles (deterministic NTILE over (score, doc_id)), per bin
    * the exact positive count against the ground-truth label and one
    * double division for the rate. A monotone rate curve = the score
    * ORDERS quality correctly even where its absolute value lies.
    */
  private def qcCalibrationSql(d: Dialect, scoreRel: String): String =
    s"""b AS (SELECT doc_id, score_micro, label,
       |    NTILE(10) OVER (ORDER BY score_micro, doc_id) AS bin
       |  FROM ($scoreRel) sc)
       |SELECT CAST(bin AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(label) AS BIGINT) AS n_positive,
       |  CAST(MIN(score_micro) AS BIGINT) AS score_lo,
       |  CAST(MAX(score_micro) AS BIGINT) AS score_hi,
       |  CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS positive_rate
       |FROM b GROUP BY bin""".stripMargin

  private def textQualityCalibrationDef: QueryDef = {
    val dd = DuckDialect
    val oracle =
      s"""WITH qcc AS (${qcFeatSql(dd)}),
         |qcy AS ($qcLabelSql),
         |${qcOracleRounds(dd)},
         |${qcCalibrationSql(dd, qcScoreSql(dd, "SELECT doc_id, bkt, cnt FROM qcc",
            "SELECT doc_id, y FROM qcy", s"SELECT bkt, w FROM w$QcRounds"))}"""
        .stripMargin
    QueryDef("text_quality_calibration", oracle) { (s, dir) =>
      qcTrainWeights(s, dir)
      s.sql("WITH " + qcCalibrationSql(SparkDialect,
        qcScoreSql(SparkDialect, "SELECT doc_id, bkt, cnt FROM graft_qc_cc",
          "SELECT doc_id, y FROM graft_qc_y", "SELECT bkt, w FROM graft_qc_w")))
    }
  }

  /** Batch-insensitive oracle for stream_learned_filter: weights come from
    * the FULL-corpus GD chain (training is offline — arrival order cannot
    * affect them), scoring is per-doc, version = the `doc_id % 3` arrival
    * schedule. Admission threshold = the classifier's 0.5 decision
    * boundary in micro units.
    */
  private[queries] def learnedFilterOracle: String = {
    val dd = DuckDialect
    s"""WITH qcc AS (${qcFeatSql(dd)}),
       |qcy AS ($qcLabelSql),
       |${qcOracleRounds(dd)},
       |sc AS (SELECT qcc.doc_id, CAST(SUM(qcc.cnt * w.w) AS BIGINT) AS pred
       |  FROM qcc JOIN (SELECT bkt, w FROM w$QcRounds) w ON qcc.bkt = w.bkt
       |  GROUP BY qcc.doc_id)
       |SELECT CAST(d.doc_id % 3 + 1 AS BIGINT) AS version,
       |  CAST(d.doc_id AS BIGINT) AS doc_id,
       |  COALESCE(sc.pred, CAST(0 AS BIGINT)) AS score_micro,
       |  CAST(CASE WHEN COALESCE(sc.pred, 0) > 500000 THEN 1 ELSE 0 END AS BIGINT) AS admitted
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin
  }

  /** Per-batch scoring for the streaming learned filter: featurize the
    * batch view with the training featurizer's EXACT arithmetic and score
    * against the broadcast weight relation.
    */
  private[queries] def learnedFilterScore(s: SparkSession, batchView: String,
      weightsView: String): DataFrame =
    s.sql(
      s"""SELECT b.doc_id,
         |  COALESCE(p.pred, CAST(0 AS BIGINT)) AS score_micro,
         |  CAST(CASE WHEN COALESCE(p.pred, 0) > 500000 THEN 1 ELSE 0 END AS BIGINT) AS admitted
         |FROM (SELECT doc_id FROM $batchView) b
         |LEFT JOIN (SELECT cc.doc_id, CAST(SUM(cc.cnt * w.w) AS BIGINT) AS pred
         |  FROM (${qcFeatSql(SparkDialect, batchView)}) cc
         |  JOIN $weightsView w ON cc.bkt = w.bkt
         |  GROUP BY cc.doc_id) p ON p.doc_id = b.doc_id""".stripMargin)

  // ----------------------------- hybrid retrieval fusion (round-9)

  private val RrfK = 60   // the standard RRF damping constant
  private val RrfTop = 20 // per-system shortlist depth

  /** HYBRID RETRIEVAL with RECIPROCAL RANK FUSION (Cormack et al., SIGIR
    * 2009): fuse a LEXICAL ranking (per-doc BM25 sum over the 3-term
    * query — the text_bm25 scoring, micro-quantized per term then SUMmed
    * as integers) with a DENSE ranking (cosine between the query's and
    * each document's hashed-bucket count vectors — the emb_hash_features
    * space) by rrf(d) = Σ_sys 1/($RrfK + rank_sys(d)) over each system's
    * top-$RrfTop, keeping the fused top-10. The standard BM25+vector
    * hybrid every RAG stack runs.
    *
    * 100 TB shape: both rankings are per-query top-k windows over
    * CANDIDATE sets (docs containing a query term / docs sharing a query
    * feature bucket — posting-list equi-joins, never full-corpus sorts at
    * serve time with a real inverted/ANN index, which sim_* and
    * text_inverted_index already provide as shortlisters); the fusion
    * itself joins two $RrfTop-row lists. The rrf score is a 2-term scalar
    * expression — never a float SUM.
    */
  private def hybridRrfSql(d: Dialect, tfSrc: Option[String] = None): String = {
    val tf = tfSrc.getOrElse(tfSql(d))
    val avgdlRatio = "(CAST(dl.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE) / CAST(s.total_len AS DOUBLE))"
    val h = F.strHashCheap(d, "tk")
    s"""WITH tf AS ($tf),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
       |df AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tk),
       |q AS (SELECT tk FROM df ORDER BY df DESC, tk ASC LIMIT 3),
       |scored AS (SELECT t.doc_id,
       |    CAST(ROUND(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
       |        / (CAST(f.df AS DOUBLE) + 0.5)) * 1000000.0) AS BIGINT) AS idf_micro,
       |    (CAST(t.tf AS DOUBLE) * 2.2)
       |      / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * $avgdlRatio)) AS sat
       |  FROM tf t JOIN q ON t.tk = q.tk JOIN df f ON t.tk = f.tk
       |  JOIN dl ON t.doc_id = dl.doc_id CROSS JOIN stats s),
       |lex AS (SELECT doc_id,
       |    CAST(SUM(CAST(ROUND(CAST(idf_micro AS DOUBLE) * sat) AS BIGINT)) AS BIGINT) AS lex_micro
       |  FROM scored GROUP BY doc_id),
       |lexr AS (SELECT doc_id, rl FROM (SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY lex_micro DESC, doc_id) AS rl
       |  FROM lex) l0 WHERE rl <= $RrfTop),
       |qv AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS qcnt FROM (
       |    SELECT ($h) % 16 AS bkt FROM q) qb GROUP BY bkt),
       |qn AS (SELECT sqrt(CAST(SUM(qcnt * qcnt) AS DOUBLE)) AS qn FROM qv),
       |db AS (SELECT doc_id, bkt, CAST(SUM(tf) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, ($h) % 16 AS bkt, tf FROM tf) d0 GROUP BY doc_id, bkt),
       |dn AS (SELECT doc_id, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS dn
       |  FROM db GROUP BY doc_id),
       |num AS (SELECT db.doc_id, CAST(SUM(db.cnt * qv.qcnt) AS BIGINT) AS num
       |  FROM db JOIN qv ON db.bkt = qv.bkt GROUP BY db.doc_id),
       |dense AS (SELECT num.doc_id,
       |    CAST(num.num AS DOUBLE) / (dn.dn * qn.qn) AS dscore
       |  FROM num JOIN dn ON num.doc_id = dn.doc_id CROSS JOIN qn),
       |denr AS (SELECT doc_id, rd FROM (SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY dscore DESC, doc_id) AS rd
       |  FROM dense) d1 WHERE rd <= $RrfTop),
       |fused AS (SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id,
       |    COALESCE(l.rl, CAST(0 AS BIGINT)) AS lex_rank,
       |    COALESCE(r.rd, CAST(0 AS BIGINT)) AS dense_rank,
       |    COALESCE(1.0 / ($RrfK.0 + CAST(l.rl AS DOUBLE)), 0.0)
       |      + COALESCE(1.0 / ($RrfK.0 + CAST(r.rd AS DOUBLE)), 0.0) AS rrf
       |  FROM lexr l FULL OUTER JOIN denr r ON l.doc_id = r.doc_id)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
       |  CAST(dense_rank AS BIGINT) AS dense_rank, rrf,
       |  CAST(rk AS BIGINT) AS rk
       |FROM (SELECT doc_id, lex_rank, dense_rank, rrf,
       |    ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rk
       |  FROM fused) f WHERE rk <= 10""".stripMargin
  }

  private def textHybridRrfDef: QueryDef =
    QueryDef("text_hybrid_rrf", hybridRrfSql(DuckDialect)) { (s, dir) =>
      s.sql(hybridRrfSql(SparkDialect, Some(cachedTf(s, dir))))
    }

  def defs: Seq[QueryDef] = Seq(
    docQuery("dedup_exact", dedupExact),
    docQuery("dedup_repeated_spans", dedupSpans),
    dedupMinhashLsh,
    dedupNgramJaccard,
    dedupSimhash,
    dedupSimhashPairs,
    embQuery("sim_topk_cosine", simTopkCosine),
    embQuery("sim_ann_lsh", simAnnLsh),
    embQuery("sim_knn_graph", simKnnGraph),
    embQuery("dedup_embedding_cosine", dedupEmbeddingCosine),
    embQuery("corpus_semantic_decontaminate", semanticDecontaminate),
    simIvfExhaustive,
    embKmeansLloyd,
    corpusBloomDecontaminate,
    docQuery("text_token_stats", textTokenStats),
    docQuery("text_quality", textQuality),
    docQuery("text_langid", textLangid),
    textUnigramTrainDef,
    textUnigramEncodeDef,
    textUnigramEm2Def,
    textFingerprintDef,
    docQuery("text_normalize", textNormalize),
    docQuery("corpus_split_hash", sampleSplit),
    docQuery("corpus_shard_shuffle", shardShuffle),
    docQuery("corpus_pack_sequences", packSequences),
    tokenDictEncodeDef,
    docQuery("dedup_incremental", dedupIncremental),
    docQuery("text_repetition", textRepetition),
    docQuery("text_cms_heavy_hitters", textCmsHeavyHitters),
    docQuery("text_zipf_slope", textZipfSlope),
    docQuery("corpus_merge_upsert", corpusMergeUpsert),
    eventsQuery("events_anomaly", eventsAnomaly),
    eventsQuery("events_hll_setops", eventsHllSetops),
    eventsQuery("events_funnel", eventsFunnel),
    eventsQuery("events_funnel_windowed", eventsFunnelWindowed),
    eventsQuery("events_scd2", eventsScd2),
    eventsQuery("events_stats_moments", eventsStatsMoments),
    docQuery("corpus_sample_stratified", corpusSampleStratified),
    dedupContainmentDef,
    dedupMinhashEval,
    corpusTopPerSourceDef,
    multimodalFeatures,
    eventsSessionWindow,
    dedupClusters,
    custQuery("text_pii_scrub", textPiiScrub),
    eventsAsofJoin,
    eventsGapFill,
    eventsHistogram,
    corpusCompact,
    docQuery("corpus_profile", corpusProfile),
    docQuery("corpus_mixture_weights", corpusMixtureWeights),
    multimodalResize,
    multimodalFrameSample,
    multimodalDecodeImage,
    multimodalPhashDef,
    dedupImagePhashDef,
    multimodalFrameHashDef,
    dedupVideoFramesDef,
    multimodalDecodeAudio,
    multimodalAudioFeatures,
    multimodalImageHistogram,
    multimodalDecodeVideo,
    textLmScore,
    textKnScoreDef,
    textKn3ScoreDef,
    eventsLatestState,
    corpusDecontaminate,
    embQuery("emb_label_centroids", embCentroids),
    embQuery("emb_quantize_int8", embQuantize),
    QueryDef("emb_pca_power", embPcaPower(DuckDialect))(embPcaPowerSpark),
    embQuery("sim_topk_quantized", simTopkQuantized),
    docQuery("corpus_chunk", corpusChunk),
    docQuery("corpus_cdc_chunk", corpusCdcChunk),
    textTfidfDef,
    textBm25Def,
    textEntropyDef,
    dedupEditDistance,
    corpusDedupApply,
    docQuery("corpus_interleave", corpusInterleave),
    docQuery("corpus_temperature_sample", corpusTemperatureSample),
    textPmiDef,
    corpusPreprocessDef,
    embQuery("sim_ann_recall", simAnnRecall),
    corpusKlDef,
    simIvfPq,
    simIvfPqRecall,
    simIvfPqRefine,
    simIvfPqRefineRecall,
    simIvfPqResidual,
    simIvfPqResidualRecall,
    simIvfPqRotated,
    simIvfPqRotatedRecall,
    docQuery("corpus_pack", corpusPack),
    docQuery("corpus_pack_stats", corpusPackStats),
    docQuery("text_winnow_fingerprint", textWinnowFingerprint),
    dedupWinnowPairsDef,
    dedupExactSubstringDef,
    dedupExactSubstringCappedDef,
    dedupSpanScrubDef,
    docQuery("text_inverted_index", textInvertedIndex),
    corpusSplitLeakageDef,
    docQuery("text_bpe_pairs", textBpePairs),
    textBpeTrainDef,
    textBpeEncodeDef,
    docQuery("emb_hash_features", embHashFeatures),
    simGraphSearchDef,
    simGraphSearchRecallDef,
    simKnnGraphAutoDef,
    embQuery("sim_ann_mrr", simAnnMrr),
    embQuery("sim_matryoshka_recall", simMatryoshkaRecall),
    embQuery("sim_matryoshka_serve", simMatryoshkaServe),
    embQuery("sim_matryoshka_serve_recall", simMatryoshkaServeRecall),
    embQuery("sim_ann_delete", simAnnDelete),
    dedupSemanticDef,
    embClusterSampleDef,
    embQuery("emb_negative_sample", embNegativeSample),
    embQuery("sim_binary_hamming", simBinaryHamming),
    embQuery("sim_binary_hamming_recall", simBinaryHammingRecall),
    corpusDsirSelectDef,
    textQualityClassifierDef,
    textQualityCalibrationDef,
    textHybridRrfDef,
    embHardNegativesDef,
    docQuery("text_gopher_rules", textGopherRules),
    textCcnetBuckets,
    embTripletMineDef,
    docQuery("corpus_anneal_mixture", corpusAnnealMixture),
    multimodalAudioFpDef,
    dedupAudioFpDef,
    eventsQuery("events_retention_cohorts", eventsRetentionCohorts),
    docQuery("corpus_span_corruption", corpusSpanCorruption),
    simIndexStats,
    docQuery("corpus_fim_transform", corpusFimTransform),
    docQuery("corpus_preference_pairs", corpusPreferencePairs),
    docQuery("corpus_length_buckets", corpusLengthBuckets),
    eventsQuery("events_ab_test", eventsAbTest),
  )
}
