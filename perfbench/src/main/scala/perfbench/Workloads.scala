package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.clips.ClipsTable
import graft.compile.CheckCompiler
import graft.dedup.Dedup
import graft.dsl.Unique
import graft.io.TableFormat
import graft.queries.{ClipQueries, RepairQueries}
import graft.run.{Runner, ValidationPipeline}

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** A workload: inputs generated from the seed, and one closed-loop cycle of
  * calls into the engine that the benchmark repeats for the timed window. */
abstract class Workload(val name: String) {
  /** Input rows one cycle processes; throughput is items / cycle wall. */
  def items: Long
  def itemUnit: String
  /** Whether the traced run also measures the cycle at local[1]. */
  def scaling: Boolean = false
  /** Write the inputs for `seed` into `dir` and keep their expectations. */
  def generate(ctx: Ctx, dir: String): Unit
  def cycle(ctx: Ctx, log: CycleLog): Unit
  /** Workload-specific end-to-end figures, from the timed cycles. */
  def figures(cycles: Seq[CycleLog]): Seq[Metric]
  /** Extra per-layer calls the traced run makes after its timed window. */
  def probes(ctx: Ctx, traced: Seq[CycleLog]): Seq[Metric] = Nil

  protected var dir: String = _

  protected def med(cycles: Seq[CycleLog], call: String): Double =
    Stats.median(cycles.flatMap(_.seconds(call)))

  protected def medValue(cycles: Seq[CycleLog], key: String): Double =
    Stats.median(cycles.flatMap(_.values.get(key)))

  /** Median wall of `reps` forced calls. */
  protected def probe(ctx: Ctx, name: String, layer: String, reps: Int = 3)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      ctx.tracer(name, layer)(body)
      (System.nanoTime() - t0) / 1e9
    })
}

object Workloads {
  val all: Seq[Workload] = Seq(ClipVerdicts, TableLifecycle, DocText)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}

/** Verdicts of the fused audio pipeline over a seeded clips table. */
object ClipVerdicts extends Workload("clip_verdicts") {
  val Clips = 16000
  def items: Long = Clips
  def itemUnit = "clips"
  override def scaling = true

  private var expected: Map[Long, Reference.Verdict] = Map.empty

  def generate(ctx: Ctx, d: String): Unit = {
    val orders = Gen.orders(ctx.seed, Clips)
    Gen.writeOrders(ctx.spark, d, orders, ctx.seed)
    expected = Reference.verdicts(orders.map(Reference.clip), audio = true)
    dir = d
  }

  def cycle(ctx: Ctx, log: CycleLog): Unit =
    ctx.call(log, "run.verdicts", "run") {
      ValidationPipeline.verdicts(ctx.spark, dir).collect()
    } { rows =>
      rows.map(r => r.getLong(0) -> Reference.Verdict(r.getLong(0), r.getLong(1), r.getLong(2)))
        .toMap == expected
    }

  def figures(cycles: Seq[CycleLog]): Seq[Metric] =
    Seq(Metric("clips_per_s", Clips / med(cycles, "run.verdicts"), "clips/s"))

  override def probes(ctx: Ctx, traced: Seq[CycleLog]): Seq[Metric] = {
    val scan = probe(ctx, "clips.base", "clips")(Bench.force(ClipsTable.base(ctx.spark, dir)))
    val augmented = probe(ctx, "audio.augmented", "audio")(
      Bench.force(ValidationPipeline.augmented(ctx.spark, dir)))
    val verdicts = med(traced, "run.verdicts")
    Seq(Metric("clips.scan_s", scan, "s"), Metric("audio.augmented_s", augmented, "s"),
      Metric("run.verdicts_s", verdicts, "s"), Metric("run.post_kernel_s", verdicts - augmented, "s"))
  }
}

/** Checkpointed Runner (stop, then resume) plus a snapshot lineage with
  * appends, incremental validation of the last delta and a pruned read. */
object TableLifecycle extends Workload("table_lifecycle") {
  val Clips = 2000
  val Appends = 4
  /** Rows per `ord_day` partition of the lineage table. */
  val DayRows = 256
  def items: Long = Clips
  def itemUnit = "rows"

  private var clips: IndexedSeq[Reference.Clip] = IndexedSeq.empty
  private var expected: Map[Long, Reference.Verdict] = Map.empty
  private var expectedDelta: Seq[Reference.Violation] = Nil
  private var expectedRange: Seq[Long] = Nil
  private var stopAfter = 0
  private var slices: Seq[(Long, Long)] = Nil
  private var range: (String, String) = ("", "")
  private var inputBytes = 0L

  def generate(ctx: Ctx, d: String): Unit = {
    val orders = Gen.orders(ctx.seed, Clips)
    Gen.writeOrders(ctx.spark, d, orders, ctx.seed)
    clips = orders.map(Reference.clip)
    expected = Reference.verdicts(clips, audio = false)
    val r = new Random(ctx.seed * 31 + 7)
    stopAfter = 12 + r.nextInt(17)
    // ingest order: the base commit holds the first half of the keys, each
    // append the next eighth
    val first = clips.head.ord
    val half = first + Clips / 2
    val step = Clips / 2 / Appends
    slices = (first, half - 1) +: (0 until Appends).map(a => (half + a * step, half + (a + 1) * step - 1))
    def in(s: (Long, Long)) = clips.filter(c => c.ord >= s._1 && c.ord <= s._2)
    expectedDelta = Reference.deltaViolations(in(slices.last), slices.init.flatMap(in), clips)
    val lo = first + r.nextInt(Clips - Clips / 20)
    range = ("clip-%012d".format(lo), "clip-%012d".format(lo + Clips / 20))
    expectedRange = clips.filter(c => c.id >= range._1 && c.id <= range._2).map(_.ord).sorted
    inputBytes = Gen.bytesUnder(s"$d/orders.parquet")
    dir = d
  }

  private def lineageInput(ctx: Ctx) =
    ClipsTable.base(ctx.spark, dir).withColumn("ord_day", (col("ord") / DayRows).cast("long"))

  def cycle(ctx: Ctx, log: CycleLog): Unit = {
    val spark = ctx.spark
    val c = ctx.freshDir("cycle")
    val out = s"$c/runner"
    val snap = s"$c/snapshot"
    def runner(maxBuckets: Int) = Runner.run(spark,
      ctx.tracer("clips.base", "clips")(ClipsTable.base(spark, dir)),
      ctx.tracer("compile.suite", "compile")(ClipQueries.suite(spark, dir)),
      out, ClipsTable.NumBuckets, maxBuckets, snapshotTable = Some(snap))
    ctx.call(log, "run.checkpoint", "run")(runner(stopAfter))(_.processed.size == stopAfter)
      .getOrElse(return)
    ctx.call(log, "run.resume", "run")(runner(Int.MaxValue)) { s =>
      s.processed.size == ClipsTable.NumBuckets - stopAfter && s.skipped.size == stopAfter &&
        checkRunnerOutput(ctx, out, snap)
    }.getOrElse(return)

    val table = s"$c/lineage"
    val src = lineageInput(ctx)
    def slice(s: (Long, Long)) = src.filter(col("ord").between(s._1, s._2))
    ctx.call(log, "io.commit", "io")(
      TableFormat.commit(slice(slices.head), table, "ord_day", Seq("clip_id")))(_ == 1).getOrElse(return)
    slices.tail.zipWithIndex.foreach { case (s, i) =>
      ctx.call(log, "io.append", "io")(
        TableFormat.append(slice(s), table, "ord_day", Seq("clip_id")))(_ == i + 2).getOrElse(return)
    }
    val last = slices.size
    ctx.call(log, "incr_validate", "compile") {
      val delta = ctx.tracer("io.readIncremental", "io")(TableFormat.readIncremental(spark, table, last - 1, last))
      val suite = ctx.tracer("compile.suite", "compile")(ClipQueries.suite(spark, dir))
      val rowRef = ctx.tracer("compile.violations", "compile")(CheckCompiler.violations(
        delta, suite.copy(checks = suite.checks.filterNot(_.isInstanceOf[Unique]))))
      val before = ctx.tracer("io.read", "io")(TableFormat.read(spark, table, Some(last - 1)))
      val dups = ctx.tracer("compile.incrementalDupGroups", "compile")(
        CheckCompiler.incrementalDupGroups(before.select("clip_id"), delta.select("clip_id"), "clip_id"))
        .select(col("clip_id"), lit("unique_clip_id").as("check_name"),
          lit("clip_id").as("column_name"), col("cnt").cast("string").as("detail"))
      rowRef.unionByName(dups).collect()
    } { rows =>
      rows.map(r => Reference.Violation(r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
        .sortBy(_.toString).toSeq == expectedDelta.sortBy(_.toString)
    }.getOrElse(return)

    ctx.call(log, "io.readWhere", "io") {
      val df = TableFormat.readWhere(spark, table, "clip_id", range._1, range._2).select("ord")
      (df.collect().map(_.getLong(0)).sorted.toSeq, df)
    } { case (ords, df) =>
      log.values("io.files_read") = PlanMetrics.filesRead(df).toDouble
      ords == expectedRange
    }
    log.values("io.bytes_written_per_input_byte") = Gen.bytesUnder(table).toDouble / inputBytes
  }

  /** The manifest, the read-back verdicts and the snapshot table all hold
    * the reference verdict of every bucket. */
  private def checkRunnerOutput(ctx: Ctx, out: String, snap: String): Boolean = {
    val fromManifest = Runner.manifestResults(out).map { case (b, r) =>
      b -> Reference.Verdict(b, r.nRows, r.nBad) }
    def fromRows(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getAs[Number]("bucket").longValue -> Reference.Verdict(r.getAs[Number]("bucket").longValue,
        r.getAs[Long]("n_rows"), r.getAs[Long]("n_bad"))).toMap
    val readBack = fromRows(Runner.verdicts(ctx.spark, out).collect())
    val snapshot = fromRows(TableFormat.read(ctx.spark, snap).collect())
    Seq(fromManifest, readBack, snapshot).forall(_ == expected)
  }

  def figures(cycles: Seq[CycleLog]): Seq[Metric] = Seq(
    Metric("checkpoint_run_s", med(cycles, "run.checkpoint"), "s"),
    Metric("resume_s", med(cycles, "run.resume"), "s"),
    Metric("append_commit_s", med(cycles, "io.append"), "s"),
    Metric("incr_validate_s", med(cycles, "incr_validate"), "s"),
    Metric("stop_after_buckets", stopAfter, "buckets"))

  override def probes(ctx: Ctx, traced: Seq[CycleLog]): Seq[Metric] = {
    val spark = ctx.spark
    val suite = ClipQueries.suite(spark, dir)
    val violations = probe(ctx, "compile.violations", "compile")(
      Bench.force(CheckCompiler.violations(ClipsTable.base(spark, dir), suite)))
    val verdicts = probe(ctx, "compile.verdicts", "compile")(
      CheckCompiler.verdicts(ClipsTable.base(spark, dir), suite).collect())
    val checkpoint = med(traced, "run.checkpoint")
    val resume = med(traced, "run.resume")
    Seq(
      Metric("compile.violations_s", violations, "s"),
      Metric("compile.verdicts_s", verdicts, "s"),
      Metric("run.runner_overhead_s", checkpoint - violations - verdicts, "s"),
      Metric("run.resume_fraction", resume / (checkpoint + resume), "share"),
      Metric("run.resume_bucket_fraction",
        (ClipsTable.NumBuckets - stopAfter).toDouble / ClipsTable.NumBuckets, "share"),
      Metric("io.commit_s", med(traced, "io.commit"), "s"),
      Metric("io.append_s", med(traced, "io.append"), "s"),
      Metric("io.read_where_s", med(traced, "io.readWhere"), "s"),
      Metric("io.files_read", medValue(traced, "io.files_read"), "count"),
      Metric("io.bytes_written_per_input_byte", medValue(traced, "io.bytes_written_per_input_byte"), "ratio"))
  }
}

/** JSON repair over malformed ~2.5 KB events, then three dedup operators
  * over documents with planted near-duplicate clusters. */
object DocText extends Workload("doc_text") {
  val Events = 600
  val Docs = 300
  val NgramThreshold = 0.8
  val TokenThreshold = 0.8
  val ClusterThreshold = 0.7
  def items: Long = Events + Docs
  def itemUnit = "docs"

  private var props: Map[Long, String] = Map.empty
  private var docs: Gen.Docs = _
  private var texts: Map[Long, String] = Map.empty
  private var langs: Map[Long, String] = Map.empty
  private var planted: Seq[(Long, Long)] = Nil
  private var cycleNo = 0

  def generate(ctx: Ctx, d: String): Unit = {
    val events = Gen.events(ctx.seed, Events)
    Gen.writeEvents(ctx.spark, d, events, ctx.seed)
    props = events.map(e => e.id -> e.props).toMap
    docs = Gen.documents(ctx.seed, Docs)
    Gen.writeDocuments(ctx.spark, d, docs.docs)
    texts = docs.docs.map(x => x.id -> x.text).toMap
    langs = docs.docs.map(x => x.id -> x.lang).toMap
    planted = Reference.plantedPairs(docs)
    dir = d
  }

  /** A per-cycle alias of the input dir (hard links under a path never used
    * before), so the engine's per-path materialization of the MinHash pair
    * set is rebuilt every cycle instead of read back from an earlier one. */
  private def alias(ctx: Ctx): String = {
    if (cycleNo > 0) graft.io.Scratch.deleteRecursively(Paths.get(ctx.work, s"docs-${cycleNo - 1}").toString)
    val a = ctx.freshDir(s"docs-$cycleNo")
    cycleNo += 1
    val src = Paths.get(dir, "documents.parquet")
    val dst = Files.createDirectories(Paths.get(a, "documents.parquet"))
    scala.util.Using.resource(Files.list(src))(_.iterator().asScala.toList).foreach(f =>
      Files.createLink(dst.resolve(f.getFileName), f))
    a
  }

  /** Each reported pair clears the threshold on the exact set measure, the
    * reported value matches it, and recall over planted pairs is kept. */
  private def checkPairs(log: CycleLog, key: String, rows: Array[org.apache.spark.sql.Row],
      sets: String => Set[String], threshold: Double, sameBlock: (Long, Long) => Boolean): Boolean = {
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ok = pairs.forall { case (a, b, j) =>
      val exact = Reference.jaccard(sets(texts(a)), sets(texts(b)))
      a < b && sameBlock(a, b) && exact >= threshold - 1e-12 && math.abs(exact - j) <= 5e-5 + 1e-9
    }
    val found = pairs.map(p => (p._1, p._2)).toSet
    val truth = planted.filter { case (a, b) =>
      sameBlock(a, b) && Reference.jaccard(sets(texts(a)), sets(texts(b))) >= threshold }
    log.values(s"$key.recall") = truth.count(found).toDouble / math.max(1, truth.size)
    log.values(s"$key.pairs") = pairs.length.toDouble
    ok
  }

  def cycle(ctx: Ctx, log: CycleLog): Unit = {
    val spark = ctx.spark
    ctx.call(log, "repair.repaired", "repair")(RepairQueries.repaired(spark, dir).collect()) { rows =>
      rows.length == props.size && rows.forall(r => props.get(r.getLong(0)).contains(r.getString(1)))
    }.getOrElse(return)
    spark.catalog.clearCache()
    ctx.call(log, "repair.repairActions", "repair")(RepairQueries.repairActions(spark, dir).collect()) { rows =>
      rows.length == props.size &&
        rows.forall(r => r.getInt(1) == (if (r.getLong(0) % 5 == 2) 2 else 0))
    }.getOrElse(return)
    spark.catalog.clearCache()

    val a = alias(ctx)
    ctx.call(log, "dedup.ngramJaccard", "dedup") {
      val df = Dedup.ngramJaccard(spark, a, NgramThreshold)
      (df.collect(), df)
    } { case (rows, df) =>
      log.values("dedup.ngram.candidates") = PlanMetrics.joinRows(df, "g_a", "g_b").toDouble
      checkPairs(log, "dedup.ngram", rows, Reference.grams, NgramThreshold, (x, y) => langs(x) == langs(y))
    }.getOrElse(return)
    spark.catalog.clearCache()
    ctx.call(log, "dedup.minhashClusters", "dedup")(Dedup.minhashClusters(spark, a, ClusterThreshold).collect()) {
      rows => checkClusters(log, rows.map(r => r.getLong(0) -> r.getLong(1)))
    }.getOrElse(return)
    spark.catalog.clearCache()
    ctx.call(log, "dedup.tokenJaccard", "dedup") {
      val df = Dedup.tokenJaccard(spark, a, TokenThreshold)
      (df.collect(), df)
    } { case (rows, df) =>
      log.values("dedup.token.candidates") = PlanMetrics.joinRows(df, "t_a", "t_b").toDouble
      checkPairs(log, "dedup.token", rows, Reference.tokens, TokenThreshold,
        (x, y) => langs(x) == langs(y) && texts(x).length == texts(y).length)
    }
    spark.catalog.clearCache()
  }

  /** Each cluster is labelled by its smallest member and is connected by
    * pairs whose exact word-shingle Jaccard clears the threshold. */
  private def checkClusters(log: CycleLog, labels: Array[(Long, Long)]): Boolean = {
    val byCluster = labels.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1).toSet }
    val ok = byCluster.forall { case (c, members) =>
      members.min == c && members.size > 1 && {
        val sh = members.map(m => m -> Reference.wordShingles(texts(m))).toMap
        var reached = Set(c)
        var frontier = Set(c)
        while (frontier.nonEmpty) {
          frontier = (members -- reached).filter(m => frontier.exists(f =>
            Reference.jaccard(sh(f), sh(m)) >= ClusterThreshold))
          reached ++= frontier
        }
        reached == members
      }
    }
    // recall: planted pairs that clear the threshold and share a cluster
    val label = labels.toMap
    val truth = planted.filter { case (a, b) =>
      Reference.jaccard(Reference.wordShingles(texts(a)), Reference.wordShingles(texts(b))) >= ClusterThreshold }
    log.values("dedup.cluster.recall") =
      truth.count { case (a, b) => label.contains(a) && label.get(a) == label.get(b) }.toDouble /
        math.max(1, truth.size)
    ok
  }

  def figures(cycles: Seq[CycleLog]): Seq[Metric] = {
    val dedup = Seq("dedup.ngramJaccard", "dedup.minhashClusters", "dedup.tokenJaccard").map(med(cycles, _))
    Seq(
      Metric("repair_docs_per_s", Events / med(cycles, "repair.repaired"), "docs/s"),
      Metric("dedup_s", dedup.sum, "s"),
      Metric("dedup.ngram_recall", medValue(cycles, "dedup.ngram.recall"), "share"),
      Metric("dedup.token_recall", medValue(cycles, "dedup.token.recall"), "share"),
      Metric("dedup.cluster_recall", medValue(cycles, "dedup.cluster.recall"), "share"))
  }

  override def probes(ctx: Ctx, traced: Seq[CycleLog]): Seq[Metric] = Seq(
    Metric("dedup.ngram_s", med(traced, "dedup.ngramJaccard"), "s"),
    Metric("dedup.cluster_s", med(traced, "dedup.minhashClusters"), "s"),
    Metric("dedup.token_jaccard_s", med(traced, "dedup.tokenJaccard"), "s"),
    Metric("dedup.pairs_per_candidate",
      medValue(traced, "dedup.ngram.pairs") / math.max(1.0, medValue(traced, "dedup.ngram.candidates")), "ratio"),
    Metric("dedup.token_pairs_per_candidate",
      medValue(traced, "dedup.token.pairs") / math.max(1.0, medValue(traced, "dedup.token.candidates")), "ratio"))
}
