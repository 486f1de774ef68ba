package graft

import graft.ops.LangIdOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Language-ID semantics (ops/LangIdOps.scala): planted-language
  * recovery — languages synthesized with DISJOINT character statistics
  * must be recovered exactly on held-out documents (the discrimination
  * proof the j60 oracle gate, which runs on signal-free fixture text,
  * cannot give) — plus vocabulary-cap equivalence and determinism.
  */
class LangIdSpec extends SparkSuite {

  /** Three pseudo-languages with disjoint letter inventories; doc i of a
    * language is a deterministic word soup over its alphabet.
    */
  private def planted(perLang: Int) = {
    import spark.implicits._
    val alphabets = Map("aa" -> "abc", "bb" -> "mnp", "cc" -> "xyz")
    val rows = for {
      (lang, ab) <- alphabets.toSeq
      i <- 0 until perLang
    } yield {
      val words = (0 until 40).map { w =>
        val h = (i * 131 + w * 17) % 27
        s"${ab(h % 3)}${ab((h / 3) % 3)}${ab((h / 9) % 3)}"
      }
      (lang.hashCode.toLong * 1000 + i, lang, words.mkString(" "))
    }
    rows.toDF("doc_id", "lang", "text")
  }

  test("planted languages are recovered exactly on held-out docs") {
    val docs = planted(20)
    // train on doc index < 12 per language, score the held-out rest
    val trainSlice = docs.where(col("doc_id") % 1000 < 12)
    val heldOut = docs.where(col("doc_id") % 1000 >= 12)
    val m = LangIdOps.train(trainSlice)
    val confusion = LangIdOps.predict(heldOut, m)
      .join(heldOut.select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // exact integers: a perfectly diagonal 3x3 matrix, 8 held-out each
    assert(confusion == Map(("aa", "aa") -> 8L, ("bb", "bb") -> 8L,
      ("cc", "cc") -> 8L), s"confusion not diagonal: $confusion")
  }

  test("trigram profiles recover the planted languages too") {
    val docs = planted(10)
    val m = LangIdOps.train(docs, n = 3)
    val wrong = LangIdOps.predict(docs, m)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .where(col("pred") =!= col("lang")).count()
    assert(wrong == 0L, s"$wrong trigram misclassifications on training data")
  }

  test("a generous vocab cap does not change predictions") {
    val docs = planted(10)
    val full = LangIdOps.predict(docs, LangIdOps.train(docs))
    val capped = LangIdOps.predict(docs, LangIdOps.trainCapped(docs, cap = 1000))
    assert(full.exceptAll(capped).isEmpty && capped.exceptAll(full).isEmpty,
      "cap larger than the vocabulary changed predictions")
  }

  test("a tight vocab cap keeps only the top grams but still predicts every doc") {
    val docs = planted(10)
    val m = LangIdOps.trainCapped(docs, cap = 5)
    assert(m.profiles.select("g").distinct().count() == 5L)
    val preds = LangIdOps.predict(docs, m)
    assert(preds.count() == docs.count(), "a doc lost its prediction under the cap")
  }

  test("curation langIdStage recovers lang for docs with junk labels") {
    val docs = planted(10)
    // crawl reality: half the labels are junk; the trusted slice trains
    val crawl = docs.withColumn("lang",
      when(col("doc_id") % 2 === 0, lit("und")).otherwise(col("lang")))
    val trusted = crawl.where(col("lang") =!= "und")
    val relabeled = graft.ops.CurateOps.langIdStage(crawl, trusted)
    val truth = docs.select(col("doc_id"), col("lang").as("want"))
    val wrong = relabeled.join(truth, "doc_id")
      .where(col("lang") =!= col("want")).count()
    assert(wrong == 0L, s"$wrong docs keep a wrong language after the stage")
    assert(relabeled.count() == docs.count())
  }

  test("langIdStage keeps docs too short to predict, labeled 'und'") {
    import spark.implicits._
    // a doc whose text is shorter than one bigram emits NO prediction row
    // (the scorer keeps length >= n); the stage must keep it with the
    // undetermined label instead of silently dropping it (ADVICE r14)
    val docs = planted(5).unionByName(
      Seq((999999L, "zz", "a"), (999998L, "zz", "")).toDF("doc_id", "lang", "text"))
    val trusted = planted(5)
    val out = graft.ops.CurateOps.langIdStage(docs, trusted)
    assert(out.count() == docs.count(), "short docs were dropped by the stage")
    val shorts = out.where(col("doc_id").isin(999998L, 999999L))
      .select("doc_id", "lang").collect()
    assert(shorts.length == 2)
    assert(shorts.forall(_.getString(1) == "und"),
      s"short docs should read 'und', got ${shorts.mkString(",")}")
  }

  /** Asserts the scorer bit-equals the relational reference on `docs`,
    * and that training equals the reference's model tables.
    */
  private def assertMatchesReference(docs: DataFrame, n: Int = 2): Unit = {
    val m = LangIdOps.train(docs, n)
    val (prof, dflt) = LangIdReference.model(docs, n)
    assert(m.profiles.exceptAll(prof).isEmpty && prof.exceptAll(m.profiles).isEmpty,
      "trained profiles diverge from the reference")
    assert(m.defaults.exceptAll(dflt).isEmpty && dflt.exceptAll(m.defaults).isEmpty,
      "trained defaults diverge from the reference")
    val ref = LangIdReference.predict(docs, prof, dflt, n).orderBy("doc_id").collect().toSeq
    val local = LangIdOps.predictRowLocal(docs, LangIdOps.literalModel(m))
      .orderBy("doc_id").collect().toSeq
    assert(ref.nonEmpty && ref == local, "row-local scorer diverges from the reference")
    assert(LangIdOps.predict(docs, m).orderBy("doc_id").collect().toSeq == ref)
  }

  test("row-local (literal-model) prediction bit-equals the relational predict") {
    import spark.implicits._
    // the planted languages have equal gram totals, so a doc of grams no
    // language has seen is an exact three-way tie: the tie-break decides.
    // Unlabeled, these docs add to the vocabulary but not the candidates.
    val ties = Seq((1L, null: String, "qq qq"), (2L, null: String, "kj"))
      .toDF("doc_id", "lang", "text")
    assertMatchesReference(planted(15).unionByName(ties))
    assertMatchesReference(planted(10), n = 3)
    // and on the signal-free fixture corpus too (near-ties everywhere —
    // the argmax tie-break must agree exactly)
    assertMatchesReference(Tables.documents(spark, sf))
  }

  test("multi-byte text: the scorer bit-equals the relational reference") {
    import spark.implicits._
    // CJK pools sharing characters, a 4-byte character and mixed case:
    // grams are code-point windows, never byte windows
    val pools = Map("zh" -> "的一是不了人我在有他这中大来", "ja" -> "のにはをたがでてとし日本中大",
      "mx" -> "AbÇdÉ中文𠀀xy")
    val docs = (for {
      (lang, p) <- pools.toSeq
      i <- 0 until 12
    } yield {
      val cps = p.codePoints().toArray
      val text = (0 until 30).map { w =>
        new String(cps, (i * 7 + w * 5) % cps.length, 1)
      }.grouped(3).map(_.mkString).mkString(" ")
      (lang.hashCode.toLong * 100 + i, lang, text)
    }).toDF("doc_id", "lang", "text")
    assertMatchesReference(docs)
    assertMatchesReference(docs, n = 3)
  }

  test("an overflowing score raises the named error, not a wrapped sum") {
    import spark.implicits._
    // "ababa" holds ab×2 and ba×2; ba is outside the vocabulary (logp0)
    def model(ab: Long) = LangIdOps.LiteralLangIdModel(Vector("aa", "bb"),
      Map("ab" -> Array(ab, -1L)), Array(-1L, -1L), 2)
    // 2 × (−2^62) = Long.MinValue exactly; adding ba's 2 × −1 overflows
    intercept[LangIdOps.LangIdScoreOverflow](model(Long.MinValue / 2).classify("ababa"))
    // the product itself overflows
    intercept[LangIdOps.LangIdScoreOverflow](model(Long.MinValue / 2 - 1).classify("ababa"))
    assert(model(-5L).classify("ababa") == "bb")
    // through Spark, the task failure carries the named error as its cause
    val e = intercept[Exception] {
      LangIdOps.predictRowLocal(Seq((1L, "ababa")).toDF("doc_id", "text"),
        model(Long.MinValue / 2)).collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[LangIdOps.LangIdScoreOverflow]), s"got $e")
  }

  test("literalModel refuses an uncapped model past its entry bound") {
    val docs = planted(5)
    val m = LangIdOps.train(docs)
    intercept[IllegalArgumentException] {
      LangIdOps.literalModel(m, maxEntries = 3)
    }
  }

  test("prediction is deterministic across repartitionings") {
    val docs = planted(10)
    val m = LangIdOps.train(docs)
    val a = LangIdOps.predict(docs, m).orderBy("doc_id").collect().toSeq
    val b = LangIdOps.predict(docs.repartition(13), m)
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "prediction depends on partitioning")
  }
}

/** Test-side relational reference for language ID, in Spark SQL mirroring
  * the DuckDB oracle's CTEs (OracleSql.langid): positional substr grams,
  * add-one-smoothed DECIMAL(18,6) profiles, per-document gram counts
  * joined to candidates × profiles × defaults, exact DECIMAL score sums
  * and a row_number argmax (score desc, language asc). It shares no code
  * with LangIdOps, so the row-local scorer is checked against an
  * independent spelling.
  */
object LangIdReference {
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  private def view(df: DataFrame): String = {
    val name = s"langid_ref_${ids.incrementAndGet()}"
    df.createOrReplaceTempView(name)
    name
  }

  private def grams(src: String, keep: String, n: Int): String =
    s"""d AS (SELECT $keep, lower(text) t FROM $src WHERE length(lower(text)) >= $n),
       |bg AS (SELECT $keep, substr(t, i, $n) g
       |       FROM d LATERAL VIEW explode(sequence(1, length(t) - ${n - 1})) u AS i)""".stripMargin

  /** (profiles(lang, g, logp), defaults(lang, logp0)) trained on `labeled`. */
  def model(labeled: DataFrame, n: Int): (DataFrame, DataFrame) = {
    val spark = labeled.sparkSession
    val src = view(labeled)
    val ctes =
      s"""WITH ${grams(src, "lang", n)},
         |cnt AS (SELECT lang, g, count(*) c FROM bg GROUP BY 1, 2),
         |tot AS (SELECT lang, count(*) nl FROM bg GROUP BY 1),
         |voc AS (SELECT count(DISTINCT g) v FROM bg)""".stripMargin
    (spark.sql(
      s"""$ctes
         |SELECT c.lang, c.g,
         |       CAST(round(ln((c.c + 1) / CAST(t.nl + v.v AS DOUBLE)), 6)
         |            AS DECIMAL(18,6)) logp
         |FROM cnt c JOIN tot t ON c.lang = t.lang CROSS JOIN voc v""".stripMargin),
      spark.sql(
        s"""$ctes
           |SELECT t.lang,
           |       CAST(round(ln(1 / CAST(t.nl + v.v AS DOUBLE)), 6)
           |            AS DECIMAL(18,6)) logp0
           |FROM tot t CROSS JOIN voc v WHERE t.lang IS NOT NULL""".stripMargin))
  }

  /** doc_id → pred for `docs` under the given model tables. */
  def predict(docs: DataFrame, profiles: DataFrame, defaults: DataFrame,
              n: Int): DataFrame = {
    val (src, prof, dflt) = (view(docs), view(profiles), view(defaults))
    docs.sparkSession.sql(
      s"""WITH ${grams(src, "doc_id", n)},
         |langs AS (SELECT DISTINCT lang cand FROM $dflt),
         |dgc AS (SELECT doc_id, g, count(*) k FROM bg GROUP BY 1, 2),
         |sc AS (SELECT dg.doc_id, l.cand,
         |         sum(CAST(dg.k AS DECIMAL(10,0)) * coalesce(p.logp, df.logp0)) score
         |       FROM dgc dg CROSS JOIN langs l
         |       LEFT JOIN $prof p ON p.lang = l.cand AND p.g = dg.g
         |       JOIN $dflt df ON df.lang = l.cand
         |       GROUP BY 1, 2),
         |pred AS (SELECT doc_id, cand,
         |           row_number() OVER (PARTITION BY doc_id
         |                              ORDER BY score DESC, cand) rn
         |         FROM sc)
         |SELECT doc_id, cand AS pred FROM pred WHERE rn = 1""".stripMargin)
  }
}
