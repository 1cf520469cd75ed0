package perfbench

import java.util.SplittableRandom
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded tables for the declared-query mix: the four star-schema members
  * the mix reads (`lineitem`, `documents`, `events`, `embeddings`), with
  * the column names and types of the repository's generated testdata, one
  * parquet file per table (`<dir>/<table>.parquet`, the layout the DuckDB
  * oracle reads). `scale` 1.0 gives the testdata's sf0.01 row counts.
  */
object MixData {
  val tables: Seq[String] = Seq("lineitem", "documents", "events", "embeddings")

  private val vocab = Array("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window", "data", "column",
    "join", "small", "customer", "query", "filter", "big", "vector", "order", "group", "stream")
  private val langs = Array("en", "en", "en", "es", "zh", "de", "fr")
  private val eventTypes = Array("view", "click", "purchase", "signup", "error")
  private val day0Us = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000L

  def generate(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    def n(base: Int): Int = math.max(8, (base * scale).round.toInt)
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      write(spark, dir, "lineitem", lineitem(rnd.split(), n(15000), n(2000), n(100)))
      write(spark, dir, "documents", documents(rnd.split(), n(500)))
      write(spark, dir, "events", events(rnd.split(), n(10000), n(150)))
      write(spark, dir, "embeddings", embeddings(rnd.split(), n(500)))
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  private def write(spark: SparkSession, dir: String, name: String,
                    t: (StructType, java.util.List[Row])): Unit = {
    val tmp = s"$dir/_gen_$name"
    spark.createDataFrame(t._2, t._1).coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new Path(s"$tmp/part-*.parquet")).head.getPath
    require(fs.rename(part, new Path(s"$dir/$name.parquet")), s"could not place $name.parquet")
    fs.delete(new Path(tmp), true)
  }

  private def lineitem(r: SplittableRandom, orders: Int, parts: Int, supps: Int) = {
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    val rows = new java.util.ArrayList[Row]()
    (1 to orders).foreach { o =>
      (1 to 1 + r.nextInt(7)).foreach { line =>
        val qty = (1 + r.nextInt(50)).toDouble
        rows.add(Row(o.toLong, (1 + r.nextInt(parts)).toLong, (1 + r.nextInt(supps)).toLong, line,
          qty, qty * (900 + r.nextInt(100000)) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
          new java.sql.Timestamp((day0Us / 1000) - 2000L * 86400000L + r.nextInt(2500) * 86400000L)))
      }
    }
    (schema, rows)
  }

  private def words(r: SplittableRandom, k: Int): Array[String] = Array.fill(k)(vocab(r.nextInt(vocab.length)))

  /** Word-salad documents over a small vocabulary; ~15% are near copies
    * (1-3 substituted words) of an earlier document, so the dedup and
    * exact-Jaccard queries have clusters to find.
    */
  private def documents(r: SplittableRandom, docs: Int) = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val texts = new Array[Array[String]](docs)
    val rows = new java.util.ArrayList[Row]()
    (0 until docs).foreach { d =>
      val w =
        if (d > 10 && r.nextInt(100) < 15) {
          val c = texts(r.nextInt(d)).clone()
          (1 to 1 + r.nextInt(3)).foreach(_ => c(r.nextInt(c.length)) = vocab(r.nextInt(vocab.length)))
          c
        } else words(r, 20 + r.nextInt(61))
      texts(d) = w
      val text = w.mkString(" ")
      rows.add(Row(d.toLong, text, langs(r.nextInt(langs.length)), s"src${d % 20}", text.length.toLong))
    }
    (schema, rows)
  }

  /** Events over 30 days: exponential inter-arrival times with a few planted
    * multi-hour gaps, uniform users and event types.
    */
  private def events(r: SplittableRandom, n: Int, users: Int) = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val meanGapUs = 30L * 86400L * 1000000L / n
    var ts = day0Us
    val rows = new java.util.ArrayList[Row]()
    (0 until n).foreach { i =>
      ts += (-StrictMath.log(1.0 - r.nextDouble()) * meanGapUs).toLong
      if (r.nextInt(1000) == 0) ts += (2 + r.nextInt(10)) * 3600L * 1000000L
      val t = new java.sql.Timestamp(ts / 1000)
      t.setNanos(((ts % 1000000L) * 1000L).toInt)
      rows.add(Row(i.toLong, t, r.nextInt(users).toLong, eventTypes(r.nextInt(eventTypes.length)),
        r.nextInt(5000) / 100.0, s"""{"k": ${r.nextInt(100)}}"""))
    }
    (schema, rows)
  }

  private def embeddings(r: SplittableRandom, n: Int) = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val rows = new java.util.ArrayList[Row]()
    (0 until n).foreach { i =>
      // a Box-Muller normal per component, scaled like unit-norm 64-d vectors
      val v = Array.fill(64) {
        val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
        (StrictMath.sqrt(-2 * StrictMath.log(u1)) * StrictMath.cos(2 * math.Pi * u2) / 8.0).toFloat
      }
      rows.add(Row(i.toLong, v.toSeq, r.nextInt(10)))
    }
    (schema, rows)
  }
}
