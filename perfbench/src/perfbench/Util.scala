package perfbench

import java.security.MessageDigest

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `--key value` argument parsing. */
object Cli {
  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
}

object Stats {
  /** Linear-interpolated percentile of an ascending-sorted array. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val x = (sorted.length - 1) * p / 100.0
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }
  def median(xs: Iterable[Double]): Double = pct(xs.toArray.sorted, 50)
}

/** Minimal JSON rendering; values are pre-rendered JSON fragments. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

object Session {
  /** The engine's own session builder, with every scratch directory
    * inside the benchmark's work directory.
    */
  def start(cpus: Int, localDir: String): SparkSession = {
    val s = graft.Scale.sessionBuilder("perfbench", cpus.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$localDir/rdd-ckpt")
    s
  }
}

/** Failure accounting: an operation that throws a non-fatal error is
  * counted and carries no wall time. Fatal errors propagate.
  */
final class Calls {
  var attempted = 0
  var failed = 0
  val errors = scala.collection.mutable.ArrayBuffer[String]()
  def apply[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$what: ${e.getClass.getName}: ${e.getMessage}".take(400)
        None
    }
  }
}

object Materialize {
  /** Collect every row and column of `df` in its final order and return
    * `(rows, sha-256 over the rows' string form)`. Unlike `count()`,
    * nothing can be pruned.
    */
  def hashed(df: DataFrame): (Array[Row], String) = {
    val rows = df.collect()
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.toString.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows, md.digest().map(b => f"$b%02x").mkString)
  }
}

object Heap {
  /** Total collection time of every collector since JVM start. */
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }
}
