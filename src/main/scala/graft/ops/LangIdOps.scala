package graft.ops

import graft.Tables
import graft.functions.Shingles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.unsafe.types.UTF8String

/** Character-n-gram language identification — the langid pass every
  * published curation stack runs before language-conditional filtering
  * (CCNet, arXiv:1911.00359 §3.1 uses fastText langid, itself a char-
  * n-gram linear classifier, arXiv:1607.01759; CLD/langid.py are the
  * same family). Model: per-language character-n-gram profiles with
  * add-one smoothing; classification is argmax over languages of the
  * summed n-gram log-probabilities — multinomial Naive Bayes over
  * char n-grams, the standard n-gram heuristic.
  *
  * Two kernels:
  *  - GRAMS come from the native [[graft.functions.Shingles]] kernel: one
  *    pass over the UTF-8 bytes, O(len·n) per document (the per-position
  *    substr spelling re-walks the bytes for every position, O(len²)).
  *    Every caller keeps length(t) >= n, where the kernel's output is
  *    exactly the positional n-gram list.
  *  - SCORING is one row-local function ([[LiteralLangIdModel.classify]]):
  *    count the document's grams, sum k·logp per language as exact
  *    scale-6 longs, argmax with a lexicographic tie-break. The model
  *    rides as a broadcast variable; no join, no shuffle, no state, so
  *    batch, serving and streaming share it.
  *
  * TRAIN is one vocabulary-bounded (lang, gram) count aggregation,
  * collected once; the log-probs are evaluated by Spark expressions over
  * a local relation of those counts (no further job).
  *
  * Determinism (SURVEY §2.1 R2/R7): each profile log-probability is
  * computed ONCE from exact longs — one IEEE division, one libm ln,
  * round(,6) capping last-ulp divergence (the j32 recipe) — and stored
  * as DECIMAL(18,6); per-document scores are EXACT sums of those values
  * (integers at scale 6, identical at any parallelism and on any
  * engine), so the argmax — and the gated confusion matrix — is
  * bit-stable cross-engine.
  *
  * Model-size bound: the collected model is (distinct grams × languages)
  * — the size the broadcast profile always had. For open-vocabulary
  * scripts cap it with [[trainCapped]] (top-V grams by global frequency,
  * deterministic tie-break); [[literalModel]]'s `maxEntries` guard makes
  * the bound explicit for serving callers. V=50k × 100 langs is 5M longs
  * (40 MB) per executor.
  */
object LangIdOps {

  /** Trained model — per-(lang, gram) smoothed log-probs and per-lang
    * unseen-gram defaults, as local relations over the collected counts.
    */
  final case class LangIdModel(profiles: DataFrame, defaults: DataFrame, n: Int)

  /** Fit n-gram profiles from a labeled corpus (`langCol` + `textCol`).
    * Smoothing is add-one over the TRAINING vocabulary V:
    * p(g|lang) = (c + 1) / (total_lang + V); unseen grams score
    * 1 / (total_lang + V). One corpus aggregation, collected.
    */
  def train(labeled: DataFrame, n: Int = 2, langCol: String = "lang",
            textCol: String = "text"): LangIdModel =
    fromCounts(labeled.sparkSession, gramCounts(labeled, n, langCol, textCol),
      n, _ => true)

  /** The (lang, gram, count) table over the lowercased text — the
    * model's own size.
    */
  private def gramCounts(labeled: DataFrame, n: Int, langCol: String,
                         textCol: String): Array[(String, String, Long)] = {
    Shingles.register(labeled.sparkSession)
    labeled.select(col(langCol), lower(col(textCol)).as("t"))
      .where(length(col("t")) >= n)
      .select(col(langCol), explode(call_function(Shingles.name, col("t"), lit(n))).as("g"))
      .groupBy(col(langCol), col("g")).agg(count(lit(1)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** Model assembly: per-lang totals and the vocabulary size are exact
    * rollups of the counts (the vocabulary includes unlabeled docs' grams);
    * only labeled languages become candidates. Profile rows are kept for
    * grams passing `kept`.
    */
  private def fromCounts(spark: SparkSession, counts: Array[(String, String, Long)],
                         n: Int, kept: String => Boolean): LangIdModel = {
    import spark.implicits._
    val v = counts.iterator.map(_._2).distinct.size.toLong
    val labeled = counts.filter(_._1 != null)
    val nl = labeled.groupMapReduce(_._1)(_._3)(_ + _)
    val dec = DecimalType(18, 6)
    val prof = labeled.collect { case (l, g, c) if kept(g) => (l, g, c, nl(l) + v) }
      .toSeq.toDF("lang", "g", "c", "nv")
      .select(col("lang"), col("g"),
        round(log((col("c") + 1).cast("double") / col("nv").cast("double")), 6)
          .cast(dec).as("logp"))
    val dflt = nl.toSeq.map { case (l, t) => (l, t + v) }.toDF("lang", "nv")
      .select(col("lang"),
        round(log(lit(1.0) / col("nv").cast("double")), 6).cast(dec).as("logp0"))
    LangIdModel(prof, dflt, n)
  }

  /** Spark's string order (UTF-8 bytes, unsigned) — the `ORDER BY` order. */
  private def sparkLess(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  /** [[train]] with the profile vocabulary capped to the `cap` globally
    * most frequent grams (count-desc, gram-asc — deterministic): the
    * open-vocabulary guard for scripts whose distinct-gram count would
    * outgrow a broadcast. Grams outside the cap fall to the per-lang
    * default at scoring time, exactly like unseen grams.
    */
  def trainCapped(labeled: DataFrame, cap: Int, n: Int = 2,
                  langCol: String = "lang", textCol: String = "text"): LangIdModel = {
    val counts = gramCounts(labeled, n, langCol, textCol)
    val kept = counts.groupMapReduce(_._2)(_._3)(_ + _).toSeq
      .sortWith { case ((g1, c1), (g2, c2)) => c1 > c2 || c1 == c2 && sparkLess(g1, g2) }
      .take(cap).map(_._1).toSet
    fromCounts(labeled.sparkSession, counts, n, kept)
  }

  /** doc_id → predicted language, through the row-local scorer. `train`
    * already holds the model on the driver, so no entry cap applies here.
    */
  def predict(docs: DataFrame, m: LangIdModel, textCol: String = "text"): DataFrame =
    predictRowLocal(docs, literalModel(m, Int.MaxValue), textCol)

  /** Raised when a document's exact score leaves the long range at scale 6:
    * a named failure instead of a wrapped sum and a wrong argmax.
    */
  final class LangIdScoreOverflow(msg: String) extends ArithmeticException(msg)

  /** A model collected for ROW-LOCAL scoring. `langs` is the candidate set
    * in tie-break order ([[literalModel]] sorts it ascending); `logp(g)(l)`
    * is gram g's log-prob in `langs(l)` as a scale-6 unscaled long (that
    * language's default where the pair was unseen in training); `logp0(l)`
    * scores grams outside the vocabulary.
    */
  final case class LiteralLangIdModel(langs: IndexedSeq[String],
                                      logp: Map[String, Array[Long]],
                                      logp0: Array[Long], n: Int) {

    // UTF8String keys match the kernel's grams without decoding them
    @transient private lazy val index: java.util.HashMap[UTF8String, Array[Long]] = {
      val m = new java.util.HashMap[UTF8String, Array[Long]](logp.size * 2)
      logp.foreach { case (g, row) => m.put(UTF8String.fromString(g), row) }
      m
    }

    /** The argmax language of lowercased text `t` (length(t) >= n): the
      * highest exact score, ties to the earliest language in `langs`.
      */
    def classify(t: String): String = {
      val counts = scala.collection.mutable.HashMap.empty[UTF8String, Int]
      Shingles.shingle(UTF8String.fromString(t), n).array.foreach { g =>
        val u = g.asInstanceOf[UTF8String]
        counts.update(u, counts.getOrElse(u, 0) + 1)
      }
      val score = new Array[Long](langs.size)
      try counts.foreach { case (g, k) =>
        val row = index.getOrDefault(g, logp0)
        var l = 0
        while (l < score.length) {
          score(l) = Math.addExact(score(l), Math.multiplyExact(k.toLong, row(l)))
          l += 1
        }
      } catch {
        case e: ArithmeticException => throw new LangIdScoreOverflow(
          s"language-ID score overflows a scale-6 long (${e.getMessage}) " +
            s"for a ${t.length}-char document")
      }
      var best = -1
      for (l <- score.indices) if (best < 0 || score(l) > score(best)) best = l
      if (best < 0) null else langs(best)
    }
  }

  /** Collect a model into the scorer's form. The collected size is the
    * profile's own size — vocabulary × languages — and the guard makes
    * the contract explicit rather than OOMing the driver.
    */
  def literalModel(m: LangIdModel, maxEntries: Int = 500000): LiteralLangIdModel = {
    val prof = m.profiles.select("lang", "g", "logp").collect()
    require(prof.length <= maxEntries,
      s"model too large to literalize (${prof.length} > $maxEntries entries) — " +
        "train with trainCapped or raise maxEntries")
    def unscaled(d: java.math.BigDecimal): Long = d.setScale(6).unscaledValue.longValueExact
    val dflt = m.defaults.collect().map(r => r.getString(0) -> unscaled(r.getDecimal(1)))
      .sortWith((a, b) => sparkLess(a._1, b._1))
    val at = dflt.map(_._1).zipWithIndex.toMap
    val logp0 = dflt.map(_._2)
    val logp = prof.groupBy(_.getString(1)).map { case (g, rows) =>
      val row = logp0.clone()
      rows.foreach(r => row(at(r.getString(0))) = unscaled(r.getDecimal(2)))
      g -> row
    }
    LiteralLangIdModel(dflt.map(_._1).toIndexedSeq, logp, logp0, m.n)
  }

  /** `docs` with a `pred` column, for rows with at least one n-gram: the
    * scorer runs per row with the model broadcast once, the
    * [[BpeOps.encode]] shape. Stream-legal (a stateless projection).
    */
  private def withPrediction(docs: DataFrame, lm: LiteralLangIdModel,
                             textCol: String): DataFrame = {
    val bm = docs.sparkSession.sparkContext.broadcast(lm)
    val scorer = udf((t: String) => bm.value.classify(t))
    docs.where(length(lower(col(textCol))) >= lm.n)
      .withColumn("pred", scorer(lower(col(textCol))))
  }

  /** ROW-LOCAL prediction: doc_id → predicted language. The serving and
    * streaming entry point; [[predict]] is this scorer too.
    */
  def predictRowLocal(docs: DataFrame, lm: LiteralLangIdModel,
                      textCol: String = "text"): DataFrame =
    withPrediction(docs, lm, textCol).select("doc_id", "pred")

  /** j60 — the langid machinery gated end to end as an exact confusion
    * matrix: train bigram profiles on the corpus's own labels, classify
    * every document, and count (fixture lang × predicted lang) in exact
    * integers. The fixture's synthetic text carries only weak language
    * signal (shared vocabulary), so the matrix is far from diagonal —
    * what the gate proves is the full train→score→argmax pipeline,
    * bit-stable cross-engine; LangIdSpec proves RECOVERY on planted
    * languages with disjoint character statistics. The corpus is read
    * twice: once by the training aggregation, once by the scorer, whose
    * output carries `lang` straight into the matrix aggregation.
    */
  val j60_langid: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val lm = literalModel(train(docs), Int.MaxValue)
    withPrediction(docs, lm, "text")
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_last("lang"), asc_nulls_last("pred"))
  }

  val queries: Map[String, Q] = Map("j60_langid" -> j60_langid)
}
