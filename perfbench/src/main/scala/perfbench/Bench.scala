package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call of a cycle. */
final case class Call(name: String, seconds: Double, ok: Boolean)

/** What one closed-loop pass over a workload's calls did. Only call walls
  * are timed; generating, checking and cleaning up happen between calls. */
final class CycleLog {
  val calls = new ArrayBuffer[Call]
  /** Per-cycle observations other than walls (plan counts, recall, ...). */
  val values = mutable.LinkedHashMap[String, Double]()
  def wall: Double = calls.map(_.seconds).sum
  def failed: Int = calls.count(!_.ok)
  def seconds(name: String): Seq[Double] = calls.filter(_.name == name).map(_.seconds).toSeq
}

/** State shared by a run: the session, the tracer and the scratch dirs. */
final class Ctx(val seed: Long, val work: String, val tracer: Tracer) {
  var spark: SparkSession = _

  /** Run `body` as one timed, traced call; `check` validates its result
    * outside the timed window. A throw or a failed check marks the call
    * failed; the caller's cycle stops at a call that threw (`None`). */
  def call[T](log: CycleLog, name: String, layer: String)(body: => T)(check: T => Boolean): Option[T] = {
    val t0 = System.nanoTime()
    val result =
      try Right(tracer(name, layer)(body))
      catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    result match {
      case Right(v) =>
        val ok =
          try check(v)
          catch { case e: Exception => Console.err.println(s"[perfbench] check of $name threw: $e"); false }
        if (!ok) Console.err.println(s"[perfbench] wrong output from $name")
        log.calls += Call(name, secs, ok)
        Some(v)
      case Left(e) =>
        Console.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
        log.calls += Call(name, secs, ok = false)
        None
    }
  }

  /** A fresh directory under the scratch area. */
  def freshDir(name: String): String = {
    val p = java.nio.file.Paths.get(work, name)
    if (java.nio.file.Files.exists(p)) graft.io.Scratch.deleteRecursively(p.toString)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}

object Bench {
  /** Consume every output column without writing (graft.Bench's action). */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def session(threads: Int, localDir: String): SparkSession = {
    // same configuration as graft.Bench's sessions
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Live heap after a full collection, in MB. Collected twice: the first
    * collection queues Spark's weakly referenced broadcasts and shuffles,
    * whose cleaner thread then releases them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
