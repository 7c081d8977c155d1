package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. Every generator draws from its own stream of the run's
  * seed, so one seed always gives the same tables, revisions, night slices
  * and takedown ids. The tables follow the shapes the program reads:
  * `lineitem`/`supplier` as `Tables.supplierDaily` and `MainPipeline` read
  * them, `embeddings` as the vector tier reads it (L2-normalized float
  * vectors with a label). */
object Inputs {

  /** The generator of one stream of one seed. The state is scrambled, so
    * no two (seed, stream) pairs give shifted copies of one sequence, as
    * states that differ by a multiple of SplittableRandom's gamma would. */
  def rng(seed: Long, stream: Long) =
    new java.util.SplittableRandom(mix(mix(seed) + stream))

  private def mix(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** `xs` in a seeded order (Fisher-Yates). */
  def shuffle[T](r: java.util.SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    for (j <- a.indices.reverse) {
      val x = r.nextInt(j + 1)
      val t = a(j); a(j) = a(x); a(x) = t
    }
    a.toSeq
  }

  val FirstDay: LocalDateTime = LocalDateTime.of(2020, 3, 1, 0, 0)

  /** (suppkey, day offset, quantity) shipments: each supplier ships on
    * about 60% of `days` days, one to three lines a day. */
  def shipments(seed: Long, suppliers: Int, days: Int): Array[(Long, Int, Double)] = {
    val r = rng(seed, 1)
    val out = Array.newBuilder[(Long, Int, Double)]
    for (s <- 1 to suppliers; d <- 0 until days if r.nextDouble() < 0.6)
      (0 until 1 + r.nextInt(3)).foreach(_ =>
        out += ((s.toLong, d, (1 + r.nextInt(50)).toDouble)))
    out.result()
  }

  /** Late revisions: about 1% of the lines shipped in the last 30 days get
    * a new quantity (at least one line is revised). */
  def revise(seed: Long, rows: Array[(Long, Int, Double)],
             days: Int): Array[(Long, Int, Double)] = {
    val r = rng(seed, 2)
    val recent = rows.indices.filter(i => rows(i)._2 >= days - 30)
    val picked = recent.filter(_ => r.nextDouble() < 0.01).toSet match {
      case s if s.isEmpty => Set(recent(r.nextInt(recent.length)))
      case s => s
    }
    rows.indices.map { i =>
      val (s, d, q) = rows(i)
      if (picked(i)) (s, d, (1 + (q.toInt + r.nextInt(49)) % 50).toDouble)
      else rows(i)
    }.toArray
  }

  private val lineitemSchema = StructType(Seq(
    StructField("l_suppkey", LongType), StructField("l_shipdate", TimestampNTZType),
    StructField("l_quantity", DoubleType)))

  private val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType), StructField("s_acctbal", DoubleType)))

  /** Write `lineitem` and `supplier` parquet tables under `dir`. */
  def writeRelease(spark: SparkSession, dir: String, seed: Long,
                   rows: Array[(Long, Int, Double)], suppliers: Int): Unit = {
    val li = rows.toSeq.map { case (s, d, q) =>
      Row(s, FirstDay.plusDays(d.toLong), q) }
    spark.createDataFrame(spark.sparkContext.parallelize(li, 1), lineitemSchema)
      .write.parquet(s"$dir/lineitem.parquet")
    val r = rng(seed, 3)
    // account balances in whole cents, never zero (the rate divides by it)
    val sup = (1 to suppliers).map { s =>
      val cents = 100 + r.nextInt(999900)
      Row(s.toLong, (if (r.nextBoolean()) cents else -cents) / 100.0)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(sup, 1), supplierSchema)
      .write.parquet(s"$dir/supplier.parquet")
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** `n` unit vectors of `dim` floats around `clusters` seeded directions,
    * ids from `firstId`; the label is the vector's cluster. */
  def embeddings(seed: Long, stream: Long, firstId: Long, n: Int, dim: Int,
                 clusters: Int): Seq[Row] = {
    val c = rng(seed, 10)
    val centers = Array.fill(clusters, dim)(c.nextDouble() * 2 - 1)
    val r = rng(seed, stream)
    (0 until n).map { i =>
      val label = r.nextInt(clusters)
      val v = centers(label).map(x => x + (r.nextDouble() * 2 - 1) * 0.6)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(firstId + i, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  def writeEmbeddings(spark: SparkSession, path: String,
                      rows: Seq[Row]): DataFrame = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), embSchema)
      .write.parquet(path)
    spark.read.parquet(path)
  }
}
