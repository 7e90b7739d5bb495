package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Host drift guard and leftover-state census. */
object Host {

  /** The FNV-mix loop of the library's own bench calibration: fixed CPU
    * work with no allocation. */
  private def burn(iters: Long): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0L
    while (i < iters) { h ^= i; h *= 0x100000001b3L; i += 1 }
    h
  }

  @volatile private var sink = 0L

  /** Seconds for the same total work on 1 thread and split over `n`
    * threads. On a healthy host `parallel` is about `single / n`; a starved
    * host shows a higher ratio. */
  def calibrate(n: Int, iters: Long = 100000000L): (Double, Double) = {
    sink += burn(iters / 8)
    var t0 = System.nanoTime()
    sink += burn(iters)
    val single = (System.nanoTime() - t0) / 1e9
    val threads = (0 until n).map(_ => new Thread(() => { sink += burn(iters / n); () }))
    t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    (single, (System.nanoTime() - t0) / 1e9)
  }

  /** Entries in the session's CacheManager. Counted through the manager's
    * private list, since Spark exposes only `isEmpty`. */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData"))
    f match {
      case Some(field) =>
        field.setAccessible(true)
        field.get(cm) match {
          case s: scala.collection.Iterable[_] => s.size
          case l: java.util.Collection[_] => l.size
          case _ => if (cm.isEmpty) 0 else 1
        }
      case None => if (cm.isEmpty) 0 else 1
    }
  }

  /** Jobs still running in the session. */
  def activeJobs(spark: SparkSession): Int =
    spark.sparkContext.statusTracker.getActiveJobIds().length

  /** Directories directly under the temp roots the library may use (files
    * there are native libraries the JVM unpacks, not leftovers). */
  def tempEntries(roots: Seq[File]): Int =
    roots.map(r => Option(r.listFiles()).map(_.count(_.isDirectory)).getOrElse(0)).sum
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
}
