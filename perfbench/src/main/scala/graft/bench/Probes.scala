package graft.bench

import graft.Tables
import graft.functions._
import graft.sources.{HFileCodec, HFileOps, WalOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8

/** Kernel probes of the traced run. Each loads and caches its inputs
  * before any timer starts, warms every kernel once, then reports the
  * median of [[Reps]] timed repetitions.
  */
object Probes {

  val Reps = 3

  private def medianSeconds(f: () => Unit): Double = {
    f()
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    })
  }

  val Encodings: Seq[(String, Int, Int)] = Seq(
    ("none", HFileCodec.EncodingNone, HFileCodec.CompressionNone),
    ("prefix", HFileCodec.EncodingPrefix, HFileCodec.CompressionNone),
    ("diff", HFileCodec.EncodingDiff, HFileCodec.CompressionNone),
    ("fast_diff", HFileCodec.EncodingFastDiff, HFileCodec.CompressionNone),
    ("row_index_v1", HFileCodec.EncodingRowIndexV1, HFileCodec.CompressionNone),
    ("gz", HFileCodec.EncodingNone, HFileCodec.CompressionGz),
    ("snappy", HFileCodec.EncodingNone, HFileCodec.CompressionSnappy),
    ("lz4", HFileCodec.EncodingNone, HFileCodec.CompressionLz4),
    ("zstd", HFileCodec.EncodingNone, HFileCodec.CompressionZstd))

  /** `graft.sources`: single-thread `HFileCodec.write` / `read` over the
    * fixture's cells for every block encoding and compression, a point get
    * against a bulk-loaded store, and WAL segment decoding.
    */
  def sources(spark: SparkSession, data: String, dir: String): Seq[(String, (Double, String))] = {
    val cells = Tables.cells(spark, data)
      .orderBy(col("rowkey"), col("cf"), col("qualifier"), col("ts").desc)
      .collect().map { r =>
        HFileCodec.HCell(r.getString(0).getBytes(UTF_8), r.getString(1).getBytes(UTF_8),
          r.getString(2).getBytes(UTF_8), r.getLong(3),
          if (r.getString(5) == "delete") HFileCodec.TypeDeleteColumn else HFileCodec.TypePut,
          java.nio.ByteBuffer.allocate(8).putDouble(r.getDouble(4)).array())
      }
    val userMb = cells.map(c => c.row.length + c.family.length + c.qualifier.length +
      c.value.length + 9L).sum / 1e6
    def encode(enc: Int, comp: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      HFileCodec.write(cells.iterator, out, 64 * 1024, HFileCodec.DefaultIndexChunkEntries,
        HFileCodec.DefaultBloomChunkKeys, comp, enc)
      out.toByteArray
    }
    val codec = Encodings.flatMap { case (x, enc, comp) =>
      val file = encode(enc, comp)
      val n = HFileCodec.read(file).size
      require(n == cells.length, s"HFile $x read back $n of ${cells.length} cells")
      val w = medianSeconds(() => encode(enc, comp))
      val r = medianSeconds(() => HFileCodec.read(file).foreach(_ => ()))
      Seq(s"sources.hfile_encode_mb_s.$x" -> (userMb / w, "MB/s"),
        s"sources.hfile_decode_mb_s.$x" -> (userMb / r, "MB/s"),
        s"sources.hfile_bytes_per_user_byte.$x" -> (file.length / 1e6 / userMb, "ratio"))
    }
    val store = s"$dir/probe_store"
    val df = Tables.cells(spark, data)
    HFileOps.bulkWrite(df, store, regions = 4)
    val keys = df.select("rowkey").orderBy("rowkey").collect().map(_.getString(0))
    val probeKeys = (0 until 8).map(i => keys(i * keys.length / 8))
    val get = medianSeconds(() => probeKeys.foreach(k => HFileOps.pointGet(spark, store, k).collect()))
    val wal = s"$dir/probe_wal"
    WalOps.writeWal(df.withColumn("seq", col("ts")), wal, segments = 4)
    val segments = new java.io.File(wal).listFiles().filter(_.getName.endsWith(".gwal"))
      .map(f => java.nio.file.Files.readAllBytes(f.toPath))
    val walMb = segments.map(_.length.toLong).sum / 1e6
    val replay = medianSeconds(() => segments.foreach(WalOps.decodeSegment))
    codec ++ Seq("sources.hfile_get_us" -> (get / probeKeys.size * 1e6, "us"),
      "sources.wal_replay_mb_s" -> (walMb / replay, "MB/s"))
  }

  /** Rows each kernel probe consumes; the fixture columns are repeated up
    * to this size so a kernel's own time dominates the job overhead. */
  val KernelRows = 20000

  /** `graft.functions`: each registered expression over the cached column
    * it consumes, minus an identity projection of the same input. */
  def functions(spark: SparkSession, data: String): Seq[(String, (Double, String))] = {
    Seq[SparkSession => Unit](CosineSim.register, Shingles.register, MinHashSig.register,
      SigAgree.register, LshBands.register, Winnow.register, JaccardSim.register,
      HyperplaneKeys.register, ShingleMd5.register, PortableFpMd5.register).foreach(_(spark))
    def grow(df: DataFrame): DataFrame = {
      val n = df.count()
      val times = math.max(1L, (KernelRows + n - 1) / n)
      df.crossJoin(spark.range(times).select(col("id").as("copy"))).drop("copy")
    }
    val docs = grow(Tables.documents(spark, data)
      .select(lower(col("text")).as("t")))
      .select(col("t"),
        array_distinct(expr("graft_shingles(t, 5)")).as("sh"),
        expr("graft_shingle_md5_60(t, 5)").as("grams"),
        array_distinct(split(col("t"), " ")).as("tok"),
        array_distinct(expr("graft_shingles(substring(t, 2), 5)")).as("sh2"))
      .withColumn("sig", expr("graft_minhash(sh, 64)"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val sigs = docs.select(col("sig"),
      expr("reverse(sig)").as("sig2"), col("sh"), col("sh2"), col("grams"))
    val emb = grow(Tables.embeddings(spark, data).select(col("embedding").as("e")))
      .select(col("e"), expr("reverse(e)").as("e2"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    docs.count(); emb.count()
    val kernels: Seq[(String, DataFrame, Column, Seq[String])] = Seq(
      ("cosine", emb, expr("graft_cosine(e, e2)"), Seq("e", "e2")),
      ("hyperplane_keys", emb, expr("graft_hyperplane_keys(e, 13, 4)"), Seq("e")),
      ("shingles", docs, expr("graft_shingles(t, 5)"), Seq("t")),
      ("shingle_md5_60", docs, expr("graft_shingle_md5_60(t, 5)"), Seq("t")),
      ("minhash", docs, expr("graft_minhash(sh, 64)"), Seq("sh")),
      ("jaccard", docs, expr("graft_jaccard(sh, sh2)"), Seq("sh", "sh2")),
      ("lsh_bands", sigs, expr("graft_lsh_bands(sig, 16, 4)"), Seq("sig")),
      ("sig_agree", sigs, expr("graft_sig_agree(sig, sig2)"), Seq("sig", "sig2")),
      ("winnow", sigs, expr("graft_winnow(grams, 4)"), Seq("grams")),
      ("simhash_md5", docs, expr("graft_simhash_md5(tok)"), Seq("tok")),
      ("minhash_md5", docs, expr("graft_minhash_md5(tok, 16)"), Seq("tok")))
    def drain(df: DataFrame): () => Unit = () => df.queryExecution.toRdd.foreach(_ => ())
    kernels.map { case (name, in, k, cols) =>
      val rows = in.count().toDouble
      val base = medianSeconds(drain(in.select(cols.map(col): _*)))
      val t = medianSeconds(drain(in.select(k)))
      s"functions.rows_s.$name" -> (rows / math.max(t - base, 1e-6), "rows/s")
    }
  }
}
