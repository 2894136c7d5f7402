package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's base tables, in the shape and size of the engine's sf0.1
  * test schema: `orders` (150,000 rows), `lineitem` (600,000), `documents`
  * (5,000 docs over a 31-word vocabulary, 5 languages, 20 sources) and
  * `embeddings` (2,000 unit vectors of 64 dims in 10 clusters).
  *
  * The tables are a fixed function of [[Version]]: they do not depend on
  * the workload seed, which only draws what the clients ask. They are
  * generated once per checkout and published by a directory rename, so an
  * interrupted generation is never read. */
object Data {
  val Version = "v1"
  val Orders = 150000L
  val Lineitems = 600000L
  val Docs = 5000
  val Vectors = 2000
  val Dim = 64
  val Vocab: Array[String] = ("query row stream the spark line small fast group customer " +
    "batch sort value hash filter big data dup part column order scan a slow agg key " +
    "window table merge vector join").split(" ")
  val Langs = Seq("en", "es", "de", "fr", "zh")

  def ensure(spark: SparkSession, root: Path): Path = {
    val dir = root.resolve(s"data-$Version")
    if (Files.isDirectory(dir)) return dir
    val tmp = root.resolve(s"data-$Version.tmp-${ProcessHandle.current().pid()}")
    write(spark, tmp.toString)
    try Files.move(tmp, dir)
    catch { case _: java.nio.file.FileAlreadyExistsException => Fs.deleteTree(tmp) }
    dir
  }

  /** Uniform integer in [0, n) from a hash of the row id and a salt. */
  private def u(id: org.apache.spark.sql.Column, salt: Int, n: Long) =
    pmod(xxhash64(id, lit(salt)), lit(n))

  private def pick(values: Seq[String], idx: org.apache.spark.sql.Column) =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  private def write(spark: SparkSession, dir: String): Unit = {
    val id = col("id")
    val day0 = to_date(lit("1995-01-01"))
    spark.range(Orders).select(
      id.as("o_orderkey"),
      u(id, 1, 15000).as("o_custkey"),
      pick(Seq("O", "F", "P"), u(id, 2, 3)).as("o_orderstatus"),
      round(lit(1000.0) + u(id, 3, 49900000L) / 100.0, 2).as("o_totalprice"),
      date_add(day0, u(id, 4, 2404).cast("int")).cast("timestamp").as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), u(id, 5, 5))
        .as("o_orderpriority")
    ).coalesce(1).write.parquet(s"$dir/orders.parquet")

    val qty = (u(id, 14, 50) + 1).cast("double")
    spark.range(Lineitems).select(
      u(id, 10, Orders).as("l_orderkey"),
      u(id, 11, 20000).as("l_partkey"),
      u(id, 12, 1000).as("l_suppkey"),
      (u(id, 13, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(id, 15, 100000) / 100.0), 2).as("l_extendedprice"),
      (u(id, 16, 11) / 100.0).as("l_discount"),
      (u(id, 17, 9) / 100.0).as("l_tax"),
      pick(Seq("N", "A", "R"), u(id, 18, 3)).as("l_returnflag"),
      pick(Seq("O", "F"), u(id, 19, 2)).as("l_linestatus"),
      date_add(day0, u(id, 20, 2404).cast("int")).cast("timestamp").as("l_shipdate")
    ).coalesce(1).write.parquet(s"$dir/lineitem.parquet")

    val rnd = new java.util.Random(42L)
    def words(n: Int) = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length)))
    val texts = new Array[String](Docs)
    for (i <- 0 until Docs) {
      val r = rnd.nextInt(100)
      texts(i) =
        if (i > 0 && r < 5) texts(rnd.nextInt(i)) // exact duplicate
        else if (i > 0 && r < 10) { // near duplicate: one word replaced
          val ws = texts(rnd.nextInt(i)).split(" ")
          ws(rnd.nextInt(ws.length)) = Vocab(rnd.nextInt(Vocab.length))
          ws.mkString(" ")
        } else if (i > 0 && r < 14) { // quotes a 12-word span of an earlier doc
          val src = texts(rnd.nextInt(i)).split(" ")
          val at = rnd.nextInt(math.max(1, src.length - 12))
          (words(5 + rnd.nextInt(20)) ++ src.slice(at, at + 12) ++ words(5 + rnd.nextInt(20)))
            .mkString(" ")
        } else words(8 + rnd.nextInt(93)).mkString(" ")
    }
    val docRows = (0 until Docs).map { i =>
      Row(i.toLong, texts(i), Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(20)}",
        texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), docSchema)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val centers = Array.fill(10)(unit(Array.fill(Dim)(rnd.nextGaussian())))
    val vecRows = (0 until Vectors).map { i =>
      val label = rnd.nextInt(10)
      val v = unit(Array.tabulate(Dim)(d => centers(label)(d) + 0.35 * rnd.nextGaussian()))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}
