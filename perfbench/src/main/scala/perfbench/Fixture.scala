package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The curation fixture: the four tables the batch queries read
  * (documents, embeddings, lineitem, orders), generated from a fixed seed
  * because a checkout carries no test data. Schemas, row counts and value
  * distributions follow the repository's seed-42 fixtures (TESTDATA.md,
  * FIXTURES.md), measured on sf0.1; README.md lists each measured figure. */
object Fixture {
  val Seed = 42L
  private val Vocab = ("the a key order sort table scan fast slow value data row column " +
    "group join hash merge filter window stream batch spark vector query agg big small " +
    "part line customer").split(" ")
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "de" -> 0.14, "es" -> 0.15, "fr" -> 0.15)
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Epoch1995 = 788918400L // 1995-01-01T00:00:00Z
  /** Share of documents that are another document's text plus " dup". */
  private val DupShare = 0.05

  private def rng(table: Int, r: Long) =
    new SplittableRandom(Seed * 0x9E3779B97F4A7C15L + table * 0x632BE59BD9B4E019L + r)

  /** The embeddings table at scale `sf`: 64-dim unit vectors with a uniform
    * label in 0..9 and no cluster structure; the smallest scales keep 500
    * rows (and 500 documents), as the repository's own fixtures do. */
  def embeddings(sf: Double): Corpus =
    Corpus(Seed, math.max(500, (20000 * sf).toInt), 64, 10, planted = false)

  /** Document `r`'s own words: 10–100 words drawn uniformly from the
    * fixture's 30-word vocabulary. */
  private def words(r: Long): String = {
    val g = rng(1, r)
    Seq.fill(10 + g.nextInt(91))(Vocab(g.nextInt(Vocab.length))).mkString(" ")
  }

  private def timestamp(g: SplittableRandom, firstDay: Int, days: Int) =
    new java.sql.Timestamp((Epoch1995 + (firstDay + g.nextInt(days)) * 86400L) * 1000L)

  /** A price in cents rounded to two decimals, uniform over [lo, hi). */
  private def price(g: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + g.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Generates the tables under `dir` unless a complete copy is there. */
  def ensure(spark: SparkSession, dir: java.io.File, sf: Double): Unit = {
    if (new java.io.File(dir, "_COMPLETE").isFile) return
    FileTree.rmTree(dir)
    dir.mkdirs()
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val nDocs = math.max(500, (50000 * sf).toInt)
      val nOrders = (1500000 * sf).toInt
      val nLines = (6000000 * sf).toInt
      write(spark, dir, "documents", nDocs, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))) { r =>
        val g = rng(2, r)
        val text = if (g.nextDouble() < DupShare) words(g.nextLong(nDocs)) + " dup" else words(r)
        var u = g.nextDouble()
        val lang = Langs.find { case (_, w) => u -= w; u < 0 }.getOrElse(Langs.last)._1
        Row(r, text, lang, s"src${r % 20}", text.length.toLong)
      }
      val emb = embeddings(sf)
      write(spark, dir, "embeddings", emb.rows, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))) { r =>
        val v = new Array[Float](emb.dim)
        val label = emb.row(r.toInt, v, 0)
        Row(r, v.toSeq, label)
      }
      write(spark, dir, "orders", nOrders, StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))) { r =>
        val g = rng(3, r)
        Row(r, g.nextLong(nOrders / 10), Seq("O", "F", "P")(g.nextInt(3)),
          price(g, 1000, 500000), timestamp(g, 0, 2405), Priorities(g.nextInt(Priorities.length)))
      }
      // every line's order is uniform over the orders, so lines per order
      // are Poisson(4) and the orders over the skew join's ten-line
      // threshold are the Poisson tail, as in the repository's fixture
      write(spark, dir, "lineitem", nLines, StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType)))) { r =>
        val g = rng(4, r)
        Row(g.nextLong(nOrders), g.nextLong(nOrders * 2 / 15), g.nextLong(nOrders / 150),
          1 + g.nextInt(7), (1 + g.nextInt(50)).toDouble, price(g, 900, 105000),
          math.round(g.nextDouble() * 10) / 100.0, math.round(g.nextDouble() * 8) / 100.0,
          Seq("A", "N", "R")(g.nextInt(3)), Seq("O", "F")(g.nextInt(2)), timestamp(g, 1, 2498))
      }
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    new java.io.File(dir, "_COMPLETE").createNewFile()
  }

  private def write(spark: SparkSession, dir: java.io.File, name: String, rows: Int,
      schema: StructType)(row: Long => Row): Unit = {
    val parts = math.max(1, rows / 200000)
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val lo = rows.toLong * p / parts
      val hi = rows.toLong * (p + 1) / parts
      (lo until hi).iterator.map(row)
    }
    spark.createDataFrame(rdd, schema).coalesce(1)
      .write.parquet(new java.io.File(dir, s"$name.parquet").getPath)
  }
}
