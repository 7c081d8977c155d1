package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The outcome of one timed phase: per-operation wall times, the wall
  * times of the read requests served after each operation, and the
  * operations that threw. */
final class Phase {
  val opNs = mutable.ArrayBuffer.empty[Long]
  val serveNs = mutable.ArrayBuffer.empty[Long]
  var failed = 0L
  def attempted: Long = opNs.length.toLong + serveNs.length + failed
}

/** How an operation times its parts: `write` accumulates into the
  * operation's time, `request` times one read request on its own. Only
  * what runs inside them counts. */
final class Timer(ph: Option[Phase]) {
  private[perfbench] var spent = 0L
  def write(body: => Unit): Unit = {
    val s = System.nanoTime()
    body
    spent += System.nanoTime() - s
  }
  def request(body: => Unit): Unit = {
    val s = System.nanoTime()
    body
    val d = System.nanoTime() - s
    ph.foreach(_.serveNs += d)
  }
}

/** One benchmark workload: a seeded set-up, a closed loop of operations
  * with one client, and the checks of what the operations produced. */
abstract class Workload(val spark: SparkSession, val seed: Long,
                        val work: String) {

  /** Build inputs and the starting state under `dir` (a fresh directory per
    * set-up repetition); the last repetition's state is the one measured. */
  def setup(dir: String): Unit

  /** Reset whatever per-phase state a phase starts from. Runs before the
    * warm operation and again after it, so timed operations start from the
    * same state on a warmer JVM. */
  def beginPhase(phaseNo: Int): Unit

  /** Run operation `i` of the phase (-1 for the untimed warm operation):
    * one write through [[Timer.write]], then the read requests served
    * after it, each through [[Timer.request]]. */
  def op(i: Int, tr: Tracer, t: Timer): Unit

  /** Check every output of the phases run; returns the operations whose
    * output is wrong. Runs outside the timed window. */
  def check(): Long

  /** On-disk bytes of the store per live row, after the first operation. */
  def storeBytesPerRow: Double

  /** Path prefixes of the store the operations rewrite: scans under them
    * count as store re-reads. */
  def storeRoots: Seq[String] = Nil

  /** Per-layer metrics from the traced phase, with an explicit 0 for every
    * layer metric of the other workload. */
  def layers(tr: Tracer): Map[String, Double]

  /** Directory the Python checks read, with a manifest. */
  lazy val checkDir: String = { val d = s"$work/check"; new File(d).mkdirs(); d }

  /** Operations until `seconds` have passed, and at least
    * [[Workload.MinOps]], after the untimed warm operation if `warm`. */
  final def runPhase(seconds: Double, phaseNo: Int, tr: Tracer,
                     warm: Boolean = false): Phase = {
    val ph = new Phase
    beginPhase(phaseNo)
    if (warm) {
      op(-1, tr, new Timer(None))
      beginPhase(phaseNo)
      Main.progress("warm operation")
    }
    val t0 = System.nanoTime()
    val budget = (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() - t0 < budget || ph.opNs.length < Workload.MinOps) {
      val t = new Timer(Some(ph))
      try {
        op(i, tr, t)
        ph.opNs += t.spent
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] operation $i failed: $e")
          ph.failed += 1
          if (ph.failed > 3) throw e
      }
      i += 1
    }
    ph
  }
}

object Workload {
  /** Least operations in one phase. One write operation takes longer than
    * the budget of a run allows twice; its requests give the medians. */
  val MinOps = 1
}

object Util {
  def nowS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src),
      fs, new org.apache.hadoop.fs.Path(dst), false, conf)
  }

  def deleteDir(path: String): Unit = {
    def go(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }

  /** Bytes of the parquet files under `path`. */
  def parquetBytes(path: String): Long = {
    def go(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(go).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    go(new File(path))
  }

  /** Row count plus an order-free content hash of `df`. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
      .cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.longValue).getOrElse(0L))
  }

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` as JSON: Scala maps and sequences, strings, numbers, null. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** A collected row as JSON-ready values: dates and timestamps as ISO
    * text, nested rows as sequences. */
  def cells(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.time.LocalDateTime => t.toString
    case x: Row => cells(x)
    case x => x
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
