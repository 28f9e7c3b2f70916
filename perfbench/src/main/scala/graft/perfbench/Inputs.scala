package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.util.SplittableRandom

/** One generated event, kept in memory so the checks can derive the
  * expected engine outputs without Spark. */
final case class Event(id: Long, user: Long, kind: String)

/** Seeded input generators. The tables have the schemas of the engine's
  * `events`, `documents` and `embeddings` inputs (TESTDATA.md); the same
  * seed always writes the same rows. */
object Inputs {

  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")

  /** `n` events in event_id (= logical time) order over `users`
    * accounts, uniformly; and besides them `hot` accounts with `perHot`
    * events each, interleaved at seeded positions. The hot accounts
    * (ids from `users` up) stand in for the elector/system accounts of
    * LAYOUT.md, which get about 10^4 times the median account's traffic. */
  def events(seed: Long, n: Int, users: Int, hot: Int,
      perHot: Int): Vector[Event] = {
    val rnd = new SplittableRandom(seed * 31 + 1)
    val owner = Array.fill(n)(rnd.nextInt(users).toLong) ++
      (0 until hot).flatMap(h => Seq.fill(perHot)((users + h).toLong))
    for (i <- owner.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = owner(i); owner(i) = owner(j); owner(j) = t
    }
    Vector.tabulate(owner.length)(i => Event(i.toLong, owner(i),
      EventTypes(rnd.nextInt(EventTypes.size))))
  }

  def writeEvents(spark: SparkSession, seed: Long, evs: Seq[Event],
      dir: String): Unit = {
    val rnd = new SplittableRandom(seed * 31 + 2)
    var tsMicros = 1704067200000000L // 2024-01-01T00:00:00Z
    val rows = evs.map { e =>
      tsMicros += rnd.nextLong(52000000L)
      val ts = new java.sql.Timestamp(tsMicros / 1000)
      ts.setNanos(((tsMicros % 1000000) * 1000).toInt)
      Row(e.id, ts, e.user, e.kind,
        math.round(rnd.nextDouble() * 56000) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    write(spark, rows, schema, s"$dir/events.parquet")
  }

  private val Vocab: Array[String] = ("a the batch part spark line column order " +
    "small sort fast value scan hash slow group agg filter query big key " +
    "window row table stream merge data vector customer join index").split(" ")
  private val Langs = Seq("en" -> 41, "zh" -> 15, "de" -> 14, "fr" -> 15, "es" -> 15)

  /** Documents of 8-90 words from a small vocabulary; about one in ten
    * is a near copy (a few words replaced) of an earlier document, so the
    * near-duplicate passes have pairs to find. */
  def writeDocuments(spark: SparkSession, seed: Long, n: Int, dir: String): Unit = {
    val rnd = new SplittableRandom(seed * 31 + 3)
    val texts = new Array[Array[String]](n)
    val rows = (0 until n).map { i =>
      val words =
        if (i > 10 && rnd.nextInt(10) == 0) {
          val w = texts(rnd.nextInt(i)).clone()
          (0 until 1 + rnd.nextInt(3)).foreach(_ =>
            w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.length)))
          w
        } else Array.fill(8 + rnd.nextInt(83))(Vocab(rnd.nextInt(Vocab.length)))
      texts(i) = words
      val text = words.mkString(" ")
      var pick = rnd.nextInt(100)
      val lang = Langs.find { case (_, w) => pick -= w; pick < 0 }.get._1
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    write(spark, rows, schema, s"$dir/documents.parquet")
  }

  val Dim = 64

  /** Unit vectors in random directions with a random label 0-9, as float
    * arrays; returned as well, for the brute-force checks. */
  def embeddings(seed: Long, n: Int): Vector[Array[Float]] = {
    val rnd = new java.util.Random(seed * 31 + 4)
    Vector.fill(n) {
      val v = Array.fill(Dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  def writeEmbeddings(spark: SparkSession, seed: Long, vecs: Seq[Array[Float]],
      dir: String): Unit = {
    val rnd = new SplittableRandom(seed * 31 + 5)
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.toSeq, rnd.nextInt(10))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    write(spark, rows, schema, s"$dir/embeddings.parquet")
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
}
