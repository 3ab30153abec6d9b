package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.audio.{AudioQueries, Wav}
import graft.dedup.Dedup
import graft.repair.{JsonRepair, PyJson}

/** Spark-free timings of the opaque kernels on fixed seeded samples: one
  * thread, warm, median over repetitions of the whole sample. */
object Kernels {

  private val Reps = 9

  /** Median microseconds per item of `f` over `n` items. Warms up for
    * ~0.3 s first so the timed repetitions run compiled code. */
  def usPerItem(n: Int)(f: Int => Unit): Double = {
    val warmEnd = System.nanoTime() + 300000000L
    while (System.nanoTime() < warmEnd) (0 until n).foreach(f)
    val reps = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { f(i); i += 1 }
      (System.nanoTime() - t0) / 1e3 / n
    }
    Stats.median(reps)
  }

  /** The fused synth+validate kernel over the sample clips, with the same
    * SNR and duration injections the pipeline applies. */
  def audioUsPerClip(clips: IndexedSeq[Reference.Clip]): Double = {
    val durs = clips.map(c => ((c.ord * 37) % 480 + 20).toInt)
    var buf = new Array[Byte](64 * 1024)
    usPerItem(clips.size) { i =>
      val c = clips(i)
      val extra = if (c.ord % 157 == 0) 7 else 0
      val need = Wav.synthLen(c.sr, durs(i), extra)
      if (need > buf.length) buf = new Array[Byte](need)
      val snrDb = if (c.ord % 149 == 0) Wav.CorruptSnrDb else Wav.CleanSnrDb
      Wav.synthValidateInto(buf, AudioQueries.seedOf(c.id), c.ord, c.sr, durs(i), snrDb, extra)
    }
  }

  def charShingleUsPerDoc(texts: IndexedSeq[String]): Double =
    usPerItem(texts.size)(i => Dedup.signature(Dedup.charShingles(texts(i))))

  def wordShingleUsPerDoc(texts: IndexedSeq[String]): Double =
    usPerItem(texts.size)(i => Dedup.signature(Dedup.shingles(texts(i))))

  def repairUsPerDoc(docs: IndexedSeq[String]): Double =
    usPerItem(docs.size)(i => JsonRepair.repair(docs(i)))

  def strictUsPerDoc(docs: IndexedSeq[String]): Double =
    usPerItem(docs.size)(i => PyJson.loads(docs(i)))

  def strictShare(docs: IndexedSeq[String]): Double =
    docs.count(d => PyJson.loads(d).isDefined).toDouble / docs.size
}

/** SQL metrics read from an executed plan, descending into adaptive stages
  * and cached relations. Read after the DataFrame's action has run. */
object PlanMetrics {

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def filesRead(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => metric(s, "numFiles")
    }.sum

  /** Output rows of the joins whose output carries `has` but not `hasNot`:
    * for a pair query, the join that attaches the first document's set to
    * each candidate, before the second set and the verify filter (which
    * Catalyst pushes into the join that brings both sets together). */
  def joinRows(df: DataFrame, has: String, hasNot: String): Long =
    nodes(df.queryExecution.executedPlan).collect {
      case j: BaseJoinExec if j.output.exists(_.name == has) && !j.output.exists(_.name == hasNot) =>
        metric(j, "numOutputRows")
    }.sum
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
